"""parquet_converter_spark — a from-scratch PySpark-native columnar
lightweight-compression engine.

Supersedes the reference converter (sami5001/parquet-converter,
/root/reference/parquet_converter/converter.py) — a single-node
TXT/CSV→Parquet script — with a distributed per-column encoding engine
over multi-turn transcript tables:

* codecs: dictionary, run-length, frame-of-reference + bit-packing,
  delta, and a from-scratch FSST symbol-table encoder, with a
  sample-based cost-model auto-selector (the reference's
  sample-then-pin pattern, converter.py:453-511 → :573-574, repurposed
  as a codec cost model);
* partitioning: conv_id hash buckets + turn_idx salting for skewed
  long conversations (the reference is sequential, converter.py:168-170);
* checkpoint/resume: per-partition lineage manifests; a killed job
  resumes via a left-anti join on committed group ids (the distributed
  analog of the reference's per-file error isolation,
  converter.py:226-233);
* verification: a decode pass reproduces every column bit-identical to
  the reference's own Parquet footprint (converter.py:658-707).

Everything is DataFrame-API + Arrow-vectorized pandas UDFs; no RDDs,
no per-row Python in the hot path.
"""

__version__ = "0.1.0"

from pyspark import TaskContext as _TaskContext

if _TaskContext.get() is not None:  # inside a worker's task: see pyworker.py
    from parquet_converter_spark import pyworker as _pyworker

    _pyworker.install()
