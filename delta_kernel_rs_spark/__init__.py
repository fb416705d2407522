"""delta_kernel_rs_spark — a PySpark-native engine with the query and
data-processing capabilities of delta-io/delta-kernel-rs.

The reference kernel (see SURVEY.md) turns Parquet files + a ``_delta_log/``
transaction log into a consistent queryable table: snapshots, scans with
file pruning, deletion vectors, change data feed, time travel, ACID writes,
checkpoints.  The kernel delegates all physical data processing to a
pluggable ``Engine`` (reference: kernel/src/lib.rs:1070-1107); here, Apache
Spark *is* that engine — DataFrame/Catalyst is the expression evaluator,
Parquet/JSON reader, and plan executor, while this package implements
everything the kernel itself does (log replay, snapshot construction, data
skipping, DV application, transforms, CDF, commits, checkpoints) as
idiomatic PySpark.

Layout:
  sources/    log segment + snapshot (CRC fast path), scan (skipping, DVs,
              row ids), transaction (ACID, stats, constraints, row
              tracking, ICT), delete (CoW + DV), CDF (+ net / lineage
              modes), checkpoints (V1/multipart/V2), incremental scan,
              history, vacuum
  plans/      expression AST (3VL, struct ops, opaque/unknown) +
              data-skipping evaluator
  functions/  schemaString codec + column mapping, partition-value codec,
              footer stats + truncation contracts, DV roaring codec,
              schema-evolution diff
  operators/  LLM-data-pipeline operators (dedup, similarity/ANN, text
              analysis + PII scrubbing, deterministic sampling, KMV
              sketch, multimodal plumbing)
  streaming/  spark.readStream.format("delta_cdf") streaming change feed;
              sources/batch_source.py adds format("delta_kernel") — batch
              read facade, streaming append source, and the append sink
  queries/    oracle-checked query registry consumed by __spark_entry__.py
"""

__version__ = "0.1.0"

from delta_kernel_rs_spark.session import get_spark  # noqa: F401
