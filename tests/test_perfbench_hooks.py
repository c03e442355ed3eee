"""The benchmark's traced run spans program calls by replacing module
attributes by name (``perfbench/run.py::_install_wraps``). A refactor
that renames or drops one of those attributes must fail here, not only
in a traced benchmark run. Spark-free."""

from __future__ import annotations


def test_trace_hooks_resolve_and_restore():
    from perfbench import run, tracing
    from vector_db_setup_spark.operators import ann_index

    real = ann_index.append_to_ivf_index
    tr = tracing.Tracer()
    try:
        run._install_wraps(tr)
        assert ann_index.append_to_ivf_index is not real
    finally:
        tr.restore()
    assert ann_index.append_to_ivf_index is real
