"""spanmarkerner_spark — PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the capabilities of
tomaarsen/SpanMarkerNER (reference at /root/reference, studied in
SURVEY.md) as an idiomatic Spark pipeline:

    pages -> text extraction -> sentences -> mentions (one NER UDF:
          tokenize, score spans, decode) -> linked mentions
          -> canonical entities -> triples

Everything is DataFrame + built-in pyspark.sql.functions; Python code
touches data only through Arrow-vectorized UDFs (mapInPandas /
applyInPandas).  See SURVEY.md §7 for the design stance.
"""

__version__ = "0.1.0"


def _disable_thp() -> None:
    """Opt this process out of transparent huge pages.

    The scoring UDF allocates/frees multi-MB numpy temporaries per
    Arrow batch; with THP in madvise mode, 32 concurrent workers spend
    the majority of their CPU in huge-page faults/compaction (measured
    sys 2.4s vs 0.3s per worker, ~2x end-to-end). Runs at import time
    so every Spark Python worker (which imports this package to
    unpickle the UDFs) is covered. No-op off Linux / on failure.
    """
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.prctl(41, 1, 0, 0, 0)  # PR_SET_THP_DISABLE = 41
    except Exception:
        pass


_disable_thp()

from spanmarkerner_spark.config import SpanMarkerConfig  # noqa: F401,E402
