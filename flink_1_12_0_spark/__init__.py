"""flink_1_12_0_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of
the reference stream processor (Apache Flink 1.12.0 fork, surveyed in
SURVEY.md), re-expressed Spark-first:

- batch relational operators  -> Spark SQL / DataFrame (Catalyst-optimized)
- streaming operators         -> Structured Streaming (+ stateful pandas ops)
- dialect functions           -> registered Spark SQL functions
- LLM-pipeline extensions     -> dedup / similarity / text-analysis operators

Nothing here is a port of the reference's JVM execution engine: physical
execution (codegen, shuffle, spill, state store) is delegated to Spark.

Worker zip-directory cache.  Before every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before CPython 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, once per cached importer; the worker's
``sys.path`` holds pyspark.zip (~13 importers), the py4j zip and the
spark-core jar (~5.4k entries), so each task paid ~0.23 s for it on
4 cores — over 40 % of a stateful micro-batch.  Importing this package
inside a worker (every keyed operator's pickled fn does) therefore swaps
in CPython 3.13's contract: an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` changed since its last read, and all
importers of one archive share that read through
``zipimport._zip_directory_cache``.  The driver and CPython >= 3.13 keep
the stock method; delete ``_share_zip_directories`` once the workers run
CPython >= 3.13.

Worker warning filter.  PySpark's ``applyInPandasWithState`` output
serializer pads the data and state frames to equal length with all-NA
rows before ``pd.concat`` (``pyspark/sql/pandas/serializers.py``), and
pandas >= 2.1 answers every such concat with a ``FutureWarning`` about
all-NA entries.  Every stateful drain wrote one per task to stderr (24
of the 29 stderr lines of a one-batch session-window drain over 10,000
events), burying real worker errors.  Inside a worker the package
ignores exactly that warning: that message, that category, raised from
that module.
"""

import sys

__version__ = "0.1.0"


def _share_zip_directories() -> None:
    """Re-read a zip archive's directory only when the archive changed."""
    import os
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive path -> (st_ino, st_size, st_mtime_ns) at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return stock(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or read_at.get(self.archive) != stamp:
            stock(self)
            read_at[self.archive] = stamp
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _ignore_serializer_concat_warning() -> None:
    """Drop the all-NA concat FutureWarning of PySpark's state serializer."""
    import re
    import warnings

    warnings.filterwarnings(
        "ignore",
        message=re.escape("The behavior of DataFrame concatenation with empty "
                          "or all-NA entries is deprecated"),
        category=FutureWarning,
        module=re.escape("pyspark.sql.pandas.serializers") + "$",
    )


if "pyspark.worker" in sys.modules:
    _ignore_serializer_concat_warning()
    if sys.version_info < (3, 13):
        _share_zip_directories()

from flink_1_12_0_spark.session import get_spark  # noqa: E402,F401
from flink_1_12_0_spark.tables import load_tables  # noqa: E402,F401
