"""The worker's warning filter: inside a PySpark worker, the pandas
FutureWarning that the ``applyInPandasWithState`` output serializer
raises on every padded ``pd.concat`` is dropped, and only that one."""

from __future__ import annotations

from tests.test_worker_zip_cache import _run

# Runs pandas' real all-NA concat from code that carries a module name, the
# way pyspark.sql.pandas.serializers runs it, and prints every warning that
# gets past the filters as "shown <category> <first words>".
_CONCAT_FROM = """
    import sys, warnings
    {imports}
    import pandas as pd

    warnings.simplefilter("default", append=True)  # behind the worker's
    warnings.showwarning = lambda msg, cat, *a, **k: print(
        "shown", cat.__name__, *str(msg).split()[:4])
    pad = compile(
        "pd.concat([pd.DataFrame({{'a': [1.5]}}),"
        " pd.DataFrame(dict.fromkeys(['a']), index=[1])], ignore_index=True)",
        "serializers.py", "exec")
    other = compile("warnings.warn('unrelated', FutureWarning)",
                    "serializers.py", "exec")
    for module in ("pyspark.sql.pandas.serializers", "user.module"):
        env = {{"__name__": module, "pd": pd, "warnings": warnings}}
        exec(pad, env)
        exec(other, env)
        print("after", module)
"""


def test_worker_drops_serializer_concat_warning():
    """In a worker the serializer's concat warning is gone; another
    FutureWarning from that module and the same warning from another
    module still print."""
    out = _run(_CONCAT_FROM.format(imports="import pyspark.worker\n"
                                           "    import flink_1_12_0_spark"))
    assert out.splitlines() == [
        "shown FutureWarning unrelated",
        "after pyspark.sql.pandas.serializers",
        "shown FutureWarning The behavior of DataFrame",
        "shown FutureWarning unrelated",
        "after user.module",
    ]


def test_driver_keeps_serializer_concat_warning():
    """Outside a worker, importing the package filters nothing."""
    out = _run(_CONCAT_FROM.format(imports="import flink_1_12_0_spark"))
    assert out.splitlines().count("shown FutureWarning The behavior of DataFrame") == 2
