"""Deduplication operators (north-star extension, BASELINE.json):
exact, MinHash, SimHash, n-gram Jaccard, embedding-cosine.

Scale design notes (these run over 100 TB of documents, so every
operator avoids the O(N²) cross product):

- exact: hash-groupBy on the dedup key — one shuffle, map-side combined.
- MinHash LSH: shingle → md5 minhash signature → band keys →
  *equi-join on band key* (an inverted index), so only docs sharing a
  band collide. Candidate pairs then verified with the full signature.
- n-gram Jaccard: inverted-index join on shingle (only pairs sharing a
  shingle are materialized), never a cross join.
- SimHash: 32-bit signature; banding on 8-bit sub-keys guarantees recall
  for hamming ≤ 3 without pairwise comparison.
- embedding-cosine: the GEMM kernels in operators/similarity.py (and
  SemDeDup in operators/semdedup.py), pairwise only within LSH/IVF
  buckets at scale.

Hash portability: md5 only (identical across Spark/DuckDB), never
engine-native hash().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_setup_spark.functions.text import (
    STOPWORDS,
    tokens,
    word_shingles,
)


def _md5(col: Column) -> Column:
    return F.md5(F.encode(col, "UTF-8"))


_PACK = 1 << 20  # 20-bit per-token hash space

# Multiply-mod mixing constants (murmur/xxhash finalizer primes, < 2^32):
# h = (lo·C + hi·C') mod 2^32 over the packed shingle hash's 30-bit
# halves. All products < 2^62 — no 64-bit overflow in Spark or DuckDB.
_HALF = 1 << 30
_MOD32 = 1 << 32
_C1, _C2 = 2246822507, 3266489917  # 0x85EBCA6B, 0xC2B2AE35
_C3, _C4 = 668265261, 374761393  # 0x27D4EB2F, 0x165667B1


def shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, s): one 60-bit integer per word shingle, packing the
    consecutive tokens' 20-bit md5 prefixes (injective per token-hash,
    so distinct-shingle semantics survive; token-level 20-bit collisions
    merely merge rare tokens — harmless for candidate generation).

    Why this shape: building shingle *strings* with array higher-order
    functions is interpreted per element (~4.6 s of a 6.2 s pipeline at
    sf0.1, profiled). Here every step is whole-stage codegen: posexplode
    → md5 prefix → window lead to pull the next n-1 token hashes. The
    window shuffles once on id_col — and downstream per-doc groupBys
    reuse that partitioning, so it's the pipeline's only shuffle.
    """
    if not 1 <= shingle_n <= 3:
        # the packing is 3 x 20-bit into a signed 64-bit long; a 4th
        # token's t * 2^60 term silently wraps in Spark (and errors in
        # DuckDB), breaking injectivity AND cross-engine parity
        raise ValueError(
            f"shingle_n={shingle_n}: the 20-bit packing supports 1..3"
        )
    tok = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w"))
    th = tok.select(
        id_col,
        "pos",
        F.conv(F.substring(_md5(F.col("w")), 1, 5), 16, 10)
        .cast("long")
        .alias("t"),
    )
    w_ = Window.partitionBy(id_col).orderBy("pos")
    s = F.col("t")
    for j in range(1, shingle_n):
        s = s + F.lead("t", j).over(w_) * (_PACK**j)
    return th.select(F.col(id_col), s.alias("s")).filter(F.col("s").isNotNull())


def token_stream(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, wl, stop, t): THE single tokenize+explode scan every
    curation signal can derive from — t is the 20-bit md5 token prefix
    (same as `shingle_hashes`), wl the token char length, stop a 0/1
    stopword flag. Quality stats (token count, stopword ratio, mean word
    length) are one groupBy over this; shingles come from
    `shingle_stream`. Materialize (persist) this once per pipeline
    instead of re-tokenizing the corpus per signal."""
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w")
    )
    return tok.select(
        id_col,
        "pos",
        F.length("w").alias("wl"),
        F.col("w").isin(*STOPWORDS).cast("int").alias("stop"),
        F.conv(F.substring(_md5(F.col("w")), 1, 5), 16, 10)
        .cast("long")
        .alias("t"),
    )


def shingle_stream(
    th: DataFrame, id_col: str = "doc_id", ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Adds packed shingle-hash columns s{n} for every n in ``ns`` to a
    `token_stream`, in ONE window pass (the lead(t, j) expressions share
    the same window spec, so Spark evaluates the window once). s{n} is
    null on the last n-1 tokens of each doc — filter `s{n} IS NOT NULL`
    to get exactly `shingle_hashes(df, shingle_n=n)`.

    This is how a curation pipeline computes 2-gram repetition, 3-gram
    contamination, and MinHash banding from one scan + one shuffle of
    the token stream instead of one lineage per signal."""
    w_ = Window.partitionBy(id_col).orderBy("pos")
    sels = []
    for n in ns:
        s = F.col("t")
        for j in range(1, n):
            s = s + F.lead("t", j).over(w_) * (_PACK**j)
        sels.append(s.alias(f"s{n}"))
    return th.select(*th.columns, *sels)


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Duplicate-group SUMMARY by key: one row per distinct key with
    the group's lowest id (`keeper_id`) and its size — NOT a
    deduplicated copy of ``df`` (no other columns survive the
    aggregate; semi-join the keepers back for that, as
    examples/run_training_pipeline.py does). One shuffle on the key;
    min() is map-side combined."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def minhash_signature_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document as one array column: element i is
    the minimum of hash_i(shingle) over the doc's shingles, where
    hash_i = (md5_lo32 + i·md5_hi32) mod 2^32.

    Plan: one explode (narrow), codegen'd md5 per seed as flat columns,
    then a single map-side-combined groupBy(id) with one min per seed —
    the shuffle moves ≤ one row per document. Docs with < shingle_n
    tokens have no shingles and drop out entirely.
    """
    sh = shingle_hashes(df, text_col, id_col, shingle_n)
    return minhash_sigs_from_shingles(sh, id_col, num_hashes)


def minhash_sigs_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    s_col: str = "s",
) -> DataFrame:
    """MinHash signature array from a PRECOMPUTED (id, s) packed-shingle
    stream — the entry point a shared-scan curation pipeline uses so the
    tokenize+shingle lineage is materialized ONCE (via `token_stream` +
    `shingle_stream` + persist) and every signal, including MinHash,
    derives from it. Same mixing/semantics as `minhash_signature_array`.
    """
    # ZERO md5 at the shingle level: h1/h2 come from multiply-mod mixing
    # of the packed hash's two 30-bit halves (inputs are already
    # md5-uniform, so a linear combo mod 2^32 stays uniform), then
    # Kirsch-Mitzenmacher double hashing (h1 + i·h2) mod 2^32 fans out
    # the num_hashes functions. Every product stays < 2^62, so 64-bit
    # arithmetic never overflows in either engine. Flat codegen
    # expressions — an array_min(transform(...)) formulation interprets
    # every hash AND re-evaluates the shingle expression per seed
    # (~7× slower measured at sf0.1); the previous md5(s)-based mixing
    # cost two digest evaluations per shingle (~40% of pipeline time).
    lo = F.col(s_col) % F.lit(_HALF)  # low 30 bits
    hi = F.shiftright(F.col(s_col), 30)  # high 30 bits (s is non-negative)
    halves = sh.select(
        id_col,
        ((lo * F.lit(_C1) + hi * F.lit(_C2)) % F.lit(_MOD32)).alias("h1"),
        ((lo * F.lit(_C3) + hi * F.lit(_C4)) % F.lit(_MOD32)).alias("h2"),
    )
    hashed = halves.select(
        id_col,
        *[
            ((F.col("h1") + i * F.col("h2")) % (2**32)).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    mins = hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-format (id, h, sig) view of `minhash_signature_array` — the
    join-friendly layout for the estimate join. Shingle-less docs drop
    out (matching an explode-based formulation)."""
    arr = minhash_signature_array(df, text_col, id_col, num_hashes, shingle_n)
    return arr.select(
        F.col(id_col), F.posexplode("sig").alias("h", "sig")
    ).filter(F.col("sig").isNotNull())


def minhash_match_pairs(
    sigs: DataFrame, id_col: str = "doc_id", min_matches: int = 1
) -> DataFrame:
    """Estimated-similarity pairs: join signatures on the hash index and
    count positions where the minhash agrees. matches/num_hashes is the
    Jaccard estimate. Self-join keyed on h — fine for modest N; at scale
    use `minhash_lsh_candidates` to restrict to banded candidates first."""
    a = sigs.select(
        F.col(id_col).alias("id_a"), F.col("h"), F.col("sig").alias("sig_a")
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"), F.col("h"), F.col("sig").alias("sig_b")
    )
    joined = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("sig_a") == F.col("sig_b")).cast("int")).alias("matches")
        )
        .filter(F.col("matches") >= min_matches)
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_key) LSH banding view of the minhash signature —
    the joinable inverted-index form shared by the batch self-join
    (`minhash_lsh_candidates`) and the streaming incremental dedup
    (stream docs join these keys against a static corpus index).

    Band keys come straight off the signature array (slice + array_sort +
    concat_ws); shingle-less docs drop out."""
    arr = minhash_signature_array(df, text_col, id_col, num_hashes, shingle_n)
    return band_keys_from_sigs(arr, id_col, bands, num_hashes)


def band_keys_from_sigs(
    arr: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 8,
) -> DataFrame:
    """(id, band, band_key) from a PRECOMPUTED (id, sig) signature array
    (see `minhash_sigs_from_shingles`) — lets a shared-scan pipeline band
    without re-deriving signatures from text."""
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band slice empty (zero
        # candidates, silently); a non-divisor would silently ignore
        # the trailing hashes and change the collision probability
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rpb = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.slice("sig", b * rpb + 1, rpb)),
                        lambda x: x.cast("string"),
                    ),
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        arr.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(id_col, "bk.band", "bk.band_key")
        .filter(F.col("band_key") != "")  # shingle-less docs excluded
    )


def _pairs_from_banded(
    banded: DataFrame, id_col: str, max_band_df: int | None
) -> DataFrame:
    """Distinct candidate (id_a, id_b) from a (id, band, band_key) view.

    ``max_band_df`` is the hot-band guard (the band-key analogue of the
    shingle ``max_df`` in ngram_jaccard_pairs): band keys shared by more
    than max_band_df documents are dropped BEFORE the self-join — a key
    held by m docs otherwise lands m² pairs in one task, and identical
    boilerplate (signatures equal → every band key equal) is exactly the
    common case at 100 TB. Pairs lost to the cap are near-exact
    duplicates; route those through ``exact_dedup`` /
    ``lsh_dedup_edges`` instead of the pair join."""
    if max_band_df is not None:
        keep = (
            banded.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("bdf"))
            .filter(F.col("bdf") <= max_band_df)
            .select("band", "band_key")
        )
        banded = banded.join(keep, ["band", "band_key"], "left_semi")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_band_df: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: per band, concat that band's (sorted) signature
    slice into a band key, then equi-join docs sharing a band key. THE
    scale path: cost is driven by actual collisions, not N². Output:
    distinct candidate (id_a, id_b). The only shuffle in the whole
    pipeline is the band-key self-join.

    ``max_band_df`` caps band-key document frequency (see
    ``_pairs_from_banded``); None = exact. At 100 TB either set it or —
    better — feed this operator exact-duplicate representatives via
    ``lsh_dedup_edges``, which removes the identical-signature blowup
    at the source.

    ``banded``: pre-built (id, band, band_key) view. The self-join (and
    the cap's frequency pass) reads it two-to-three times and Catalyst
    does not reuse the exchange, so callers should pass a persisted
    view (queries.py memoizes one per session); None = build from
    ``df`` and recompute per read."""
    if banded is None:
        banded = minhash_band_keys(
            df, text_col, id_col, bands, num_hashes, shingle_n
        )
    return _pairs_from_banded(banded, id_col, max_band_df)


def lsh_pairs_from_index(
    index: DataFrame,
    id_col: str = "doc_id",
    max_band_df: int | None = None,
) -> DataFrame:
    """Candidate pairs from a MAINTAINED (id, band, band_key) inverted
    index (`streaming/commit_log.maintain_lsh_index_from_commits`):
    drop the inert empty band keys (the maintainer lands exactly
    ``bands`` rows per doc so replacements cover every row; shingle-
    less docs carry '' keys), then the same banded self-join as
    `minhash_lsh_candidates`. This is the CHEAP half of LSH dedup
    (cost = actual collisions); the expensive half — signature
    computation over the corpus text — is what the maintained index
    amortizes to O(batch) per drain. ``max_band_df`` caps hot bands
    exactly as in `_pairs_from_banded`."""
    return _pairs_from_banded(
        index.filter(F.col("band_key") != ""), id_col, max_band_df
    )


def lsh_dedup_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """Exact-dedup-first LSH edge generation — the 100 TB-safe input to
    connected components (used by the dedup_keepers / corpus curation
    pipelines).

    Identical texts share every band key, so a cluster of m exact copies
    puts m rows on the SAME band key in EVERY band: the plain self-join
    yields m² candidate rows in one task (one viral boilerplate page ×
    10⁶ copies = 10¹² pairs on one key). Here only one REPRESENTATIVE
    per exact text (min id; grouped on md5(text) so the shuffle key is
    16 bytes, not the document) enters LSH; the other members attach by
    a member→representative edge. Connected components over
    (rep pairs ∪ member edges) equal those over the uncapped pair set —
    members have identical signatures to their representative, so every
    pair they would have contributed routes through it transitively.

    Member edges are emitted only for texts that PRODUCE band keys:
    shingle-less docs (< shingle_n tokens) never enter banding, so two
    identical shingle-less docs stay isolated — exactly the plain
    ``minhash_lsh_candidates``+CC semantics, value-checked by the
    dedup_keepers oracle.

    Output: (id_a, id_b) edges, id_a < id_b.
    """
    key = _md5(F.col(text_col)).alias("__tkey")
    rep = (
        df.select(key, F.col(id_col))
        .groupBy("__tkey")
        .agg(F.min(id_col).alias("__rep"))
    )
    rep_map = (
        df.select(key, F.col(id_col))
        .join(rep, "__tkey")
        .select(F.col(id_col), F.col("__rep"))
    )
    rep_docs = df.join(
        rep_map.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    banded = minhash_band_keys(
        rep_docs, text_col, id_col, bands, num_hashes, shingle_n
    )
    rep_pairs = _pairs_from_banded(banded, id_col, max_band_df)
    keyed_reps = banded.select(F.col(id_col).alias("__rep")).distinct()
    member_edges = (
        rep_map.filter(F.col(id_col) != F.col("__rep"))
        .join(keyed_reps, "__rep", "left_semi")
        .select(
            F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
    )
    return rep_pairs.union(member_edges)


def lsh_edges_from_sigs(
    arr: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 8,
    max_band_df: int | None = None,
) -> DataFrame:
    """Representative-routed LSH edges from a PRECOMPUTED (id, sig)
    signature array — the shared-scan pipeline's analogue of
    `lsh_dedup_edges`.

    Instead of grouping on md5(text) (which would force a second corpus
    scan), duplicates are collapsed on the SIGNATURE itself: docs with
    identical signatures share every band key, so they are exactly the
    m²-per-band blowup class. One representative (min id) per distinct
    signature enters banding; members attach by rep→member edges.
    Component-preserving vs the uncapped band-key pair set: sig-equal
    docs always collide with their representative in every band, so any
    pair they would contribute routes through it transitively.

    Output: (id_a, id_b) edges, id_a < id_b not guaranteed for member
    edges (rep has min id, so rep < member holds — id_a < id_b overall).
    """
    # the signature array is referenced by THREE lineages below (rep
    # grouping, rep_map join, rep-only banding); without materialization
    # the whole shingle→min aggregation re-runs per lineage (measured
    # ~1 s each at sf0.1). localCheckpoint, NOT persist: checkpoint
    # blocks are freed by the ContextCleaner once the DataFrame is
    # garbage-collected, whereas a persist'd plan sits in the
    # CacheManager until an explicit unpersist this operator has no
    # hook to issue. One row per doc — safe at any scale the rest of
    # this pipeline handles.
    arr = arr.localCheckpoint(eager=True)
    keyed = arr.select(
        F.col(id_col),
        F.concat_ws(
            ",", F.transform("sig", lambda x: x.cast("string"))
        ).alias("__skey"),
    )
    rep = keyed.groupBy("__skey").agg(F.min(id_col).alias("__rep"))
    rep_map = keyed.join(rep, "__skey").select(F.col(id_col), "__rep")
    rep_sigs = arr.join(
        rep_map.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    banded = band_keys_from_sigs(rep_sigs, id_col, bands, num_hashes)
    rep_pairs = _pairs_from_banded(banded, id_col, max_band_df)
    member_edges = rep_map.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return rep_pairs.union(member_edges)


def lsh_edges_from_banded(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_band_df: int | None = None,
) -> DataFrame:
    """Representative-routed LSH edges from a PREBUILT (id, band,
    band_key) view — so the dedup-graph queries (dedup_keepers,
    leakage_safe_split, dedup_keepers_by_quality) reuse the SAME
    memoized banded view the candidate queries build, instead of
    re-deriving signatures from text (the tokenize+md5+minhash half
    dominates the graph build; measured most of dedup_keepers' cold
    at sf0.1).

    Rep routing collapses on FULL band-key-SET equality: docs whose
    (band, band_key) sets are identical share every band, so — exactly
    as in `lsh_edges_from_sigs` — one representative (min id) per set
    enters the pair join and members attach by rep→member edges; any
    pair a member would contribute routes through its rep
    transitively, so connected components are preserved vs the
    uncapped band-key pair set (the property the dedup oracles
    verify). Shingle-less docs have no banded rows and stay isolated,
    matching the text-routed form.

    Output: (id_a, id_b) edges, id_a < id_b (reps carry the min id).
    """
    # canonical set key: sort the (band:key) strings — collect_list
    # order is nondeterministic. band_key is comma-joined ints, so the
    # ':'/'|' separators cannot collide.
    keyed = banded.groupBy(id_col).agg(
        F.concat_ws(
            "|",
            F.array_sort(
                F.collect_list(
                    F.concat_ws(
                        ":", F.col("band").cast("string"), F.col("band_key")
                    )
                )
            ),
        ).alias("__skey")
    )
    rep = keyed.groupBy("__skey").agg(F.min(id_col).alias("__rep"))
    # rep_map feeds TWO consumers (the rep semi-join and the member
    # edges); lazy localCheckpoint caches the one-row-per-doc relation
    # on first compute so the set-key groupBy runs once, and the
    # ContextCleaner frees the blocks when the frame is GC'd (same
    # reasoning as lsh_edges_from_sigs' checkpoint)
    rep_map = (
        keyed.join(rep, "__skey")
        .select(F.col(id_col), "__rep")
        .localCheckpoint(eager=False)
    )
    rep_banded = banded.join(
        rep_map.filter(F.col(id_col) == F.col("__rep")).select(id_col),
        id_col,
        "left_semi",
    )
    rep_pairs = _pairs_from_banded(rep_banded, id_col, max_band_df)
    member_edges = rep_map.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return rep_pairs.union(member_edges)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted index: only pairs sharing at
    least one shingle are scored. jaccard = |A∩B| / (|A|+|B|-|A∩B|).

    The shingle join is the only shuffle that grows with corpus size;
    joining on the packed 60-bit shingle hash (not the string) keeps
    shuffle keys fixed-width.

    ``max_df`` is the hot-shingle guard: shingles appearing in more than
    max_df documents are dropped from the universe BEFORE the pair join
    (the standard stopword-run defense — one viral shingle otherwise
    produces df² join rows in a single task). Doc sizes are computed on
    the capped universe, so the Jaccard stays internally consistent.
    None = exact (no cap); at 100 TB always set it.

    ``shingles``: pre-built DISTINCT (id, s) set. The pipeline reads it
    three times (sizes + both join sides) and Catalyst does NOT reuse
    the exchange across them, so callers should pass a persisted set
    (queries.py memoizes one per session) — measured 1.74 s → 1.15 s
    warm at sf0.1. None = build (and recompute) from ``df``.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_hashes(df, text_col, id_col, shingle_n).distinct()
    )
    if max_df is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        sh = sh.join(keep, "s", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    form: str = "flat",
) -> DataFrame:
    """32-bit SimHash over distinct tokens.

    Each token's md5's first 8 hex chars supply 32 feature bits; each bit
    votes ±1; the signature bit is 1 where the vote is positive. The hex
    value is decoded Spark-side with conv(hex8, 16, 10); the DuckDB
    oracle mirrors it as ('0x' || hex8)::BIGINT — both decode the SAME
    md5 substring, which is what makes the votes engine-identical (the
    md5 is the portable part, the hex decode is per-engine syntax).

    ``form`` selects between two algebraically identical plans
    (equality is pinned in tests/test_dedup_recall.py):

    - ``"flat"`` (default, the 100 TB path): one aggregate slot per
      bit — the token stream shuffles ONCE with full map-side combine
      and never multiplies. The cost is a wide plan (33 slots + a
      32-term signature expression) whose Catalyst analysis + codegen
      is ~1 s of fixed driver time per run.
    - ``"exploded"``: explode 32 bit positions per token and aggregate
      (doc, bit) — a tiny plan (two small aggregations) that analyzes
      and compiles in ~0.1 s, but the exchange carries up to 32× more
      rows (partial combine collapses them to ≤32 rows/doc map-side,
      yet the pre-combine stream is ×32).

    The crossover is data volume vs plan cost: bounded/interactive
    inputs (the doc_id<80 verification query) are plan-dominated —
    use exploded; full-corpus batch runs are data-dominated — use
    flat. Measured at sf0.1: exploded topk query 0.6 s warm vs 1.4 s
    flat; flat full-corpus banded pairs 0.96 s warm vs multi-second
    exploded (SCALE_EXPERIMENTS.md "SimHash vote formulations").
    """
    assert bits <= 32
    assert form in ("flat", "exploded")
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("w")
    )
    # first 8 md5 hex chars as a 32-bit integer (conv is Spark-side;
    # DuckDB mirrors with ('0x' || hex8)::BIGINT)
    hx = toks.withColumn(
        "hv", F.conv(F.substring(_md5(F.col("w")), 1, 8), 16, 10).cast("long")
    )
    if form == "exploded":
        bitpos = hx.select(
            id_col,
            "hv",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        )
        bit = F.expr("shiftright(hv, b)").bitwiseAND(F.lit(1))
        votes = (
            bitpos.withColumn("vote", F.when(bit == 1, 1).otherwise(-1))
            .groupBy(id_col, "b")
            .agg(F.sum("vote").alias("v"))
        )
        return votes.groupBy(id_col).agg(
            F.sum(
                F.when(
                    F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    # flat: one aggregate per bit — NOT an explode over bit positions
    # (that multiplies the token stream ×bits; at 100 TB the 32×
    # intermediate is the difference between one map-side-combined
    # shuffle of ≤ one row per doc and a 32×-row double aggregation).
    # The ±1 vote is algebraically 2·ones − n, so each slot sums the RAW
    # bit (no when/otherwise) and one shared count(*) recovers the vote
    # sign: bit set ⇔ 2·ones > n. Measured at sf0.1 this halves the
    # codegen'd update function vs per-slot conditionals (cold 5.6 s →
    # 2.0 s, see SCALE_EXPERIMENTS.md "SimHash vote formulations").
    votes = hx.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1))).alias(
                f"c{b}"
            )
            for b in range(bits)
        ],
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            2 * F.col(f"c{b}") > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int | None = None
) -> DataFrame:
    """Pairwise hamming distance between simhash signatures.

    All-pairs form (use after banding at scale): hamming =
    bit_count(xor). Optionally filtered to ≤ max_hamming.
    """
    a = sim.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sim.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    out = pairs.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).select("id_a", "id_b", "hamming")
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


def simhash_banded_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    bits: int = 32,
    max_hamming: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """Scale path: docs agreeing on ≥1 of `bands` 8-bit sub-keys become
    candidates (guaranteed recall for hamming < bands), then exact
    hamming verification. Equi-join on (band, key) — no cross product.

    ``max_band_df`` is the hot-band guard, same class as the MinHash
    band cap (`_pairs_from_banded`): a band key held by m docs emits
    m²/2 candidate rows in one task, and near-identical boilerplate
    concentrates on FEW keys (measured at sf0.1: one 8-bit key held
    3 058 of 5 000 docs = half of all 9.5M candidates). Keys above the
    cap are dropped before the self-join; pairs lost that way are
    near-exact duplicates — route those through `exact_dedup` /
    rep-based edges instead of the pair join. None = exact."""
    width = bits // bands
    mask = (1 << width) - 1
    exploded = sim.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "band_key",
        F.expr(f"shiftright(simhash, band * {width})").bitwiseAND(F.lit(mask)),
    )
    if max_band_df is not None:
        keep = (
            exploded.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("bdf"))
            .filter(F.col("bdf") <= max_band_df)
            .select("band", "band_key")
        )
        exploded = exploded.join(keep, ["band", "band_key"], "left_semi")
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "band_key"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "band_key"
    )
    # hamming BEFORE the dedup: the verification filter is cheap codegen
    # and kills most candidate rows, so the distinct() shuffles only the
    # surviving (id_a, id_b, hamming) triples — not every band collision
    # with two 64-bit signatures in tow (a pair colliding in all 4 bands
    # would otherwise cross the wire 4× at double the row width).
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (MOSS-style) document fingerprints: over the rolling
    k-gram hash stream (the packed 60-bit shingle hashes), slide a
    window of ``window`` consecutive hashes and keep each window's
    MINIMUM; the distinct minima are the fingerprint set. Guarantees:
    any shared substring of length ≥ shingle_n + window - 1 tokens
    yields at least one shared fingerprint, while storing only
    ~2/(window+1) of the hashes.

    Plan: the shingle stream's single doc-partitioned window shuffle is
    reused by the min-over-following frame (same partitioning/ordering)
    and the distinct reuses it again — one shuffle total.

    Output: (id, fp) distinct fingerprint rows.
    """
    th = token_stream(df, text_col, id_col)
    ss = shingle_stream(th, id_col, ns=(shingle_n,)).filter(
        F.col(f"s{shingle_n}").isNotNull()
    )
    w_count = Window.partitionBy(id_col)
    w_roll = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    w_rank = Window.partitionBy(id_col).orderBy("pos")
    rolled = ss.select(
        id_col,
        F.min(f"s{shingle_n}").over(w_roll).alias("fp"),
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_count).alias("__m"),
    )
    # docs with fewer than `window` shingles still emit ONE fingerprint
    # (the min of all available hashes — standard winnowing behavior):
    # greatest(m - (window-1), 1) keeps row 1, whose truncated frame
    # covers the whole short stream. Without this, short docs (3..5
    # tokens at defaults) would silently drop out entirely and exact
    # duplicates of short docs would be undetectable.
    return (
        rolled.filter(
            F.col("__rn")
            <= F.greatest(F.col("__m") - (window - 1), F.lit(1))
        )
        .select(id_col, "fp")
        .distinct()
    )
