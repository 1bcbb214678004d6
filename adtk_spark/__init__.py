"""adtk_spark — a from-scratch PySpark-native time-series rollup/detection engine.

Re-expresses the query semantics of arundo/adtk (reference checkout at
/root/reference, v0.6.2) as Spark DataFrame programs over the long schema
``(source: string, ts: timestamp, value: double)``, and adds the storage
layer the reference lacks: tiered continuous aggregates (raw -> 1m -> 1h
-> 1d) with retention, gap-fill, Gorilla/delta-of-delta compressed
payloads, snapshot checkpoint/resume and per-snapshot lineage.

Design rules (see SURVEY.md):
- fit is an *action* producing a small model table (per-source scalars);
  predict/transform is a *lazy column expression* — never a driver loop.
- all window math stays JVM-side (built-in window aggregates); Python
  appears only in vectorized Arrow UDFs (codecs, user callables).
- NaN in the reference maps to SQL NULL; adtk's tri-state label algebra
  is exactly SQL three-valued logic.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
