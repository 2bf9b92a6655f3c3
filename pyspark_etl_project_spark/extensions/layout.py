"""Data-layout operators: Z-order (Morton) interleaving for
multi-dimensional data skipping.

Sorting a table by the bit-interleaved value of two (or more) columns
clusters rows that are close in EVERY dimension into the same file /
row-group, so min-max footer stats prune scans filtered on either
column — the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
Here it is a pure column expression: `df.repartitionByRange(n,
zorder_value(...)).sortWithinPartitions(...)` writes a z-clustered
table with one range exchange and zero driver-side work, at any scale.

Everything is integer bit math (`&`, `>>`, `<<`, `+` on disjoint bit
positions), portable bit-for-bit across engines — `zorder_sql_expr`
emits the identical arithmetic as ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(cols: list[Column | str], bits: int = 8) -> Column:
    """Morton/Z value of ``cols``: the low ``bits`` bits of each column
    interleaved round-robin (col i owns bit positions i, i+k, i+2k, ...
    for k columns). Bit-identical to `zorder_sql_expr` output.

    ``bits * len(cols)`` must stay under 63 (long). Dimensions are
    masked to ``bits`` bits first, so callers own the choice of how to
    rank-compress real values into that range (modulo here; a
    percentile-based rank at production scale)."""
    k = len(cols)
    if k < 2:
        raise ValueError("z-order needs >= 2 dimensions")
    if bits * k > 62:
        raise ValueError(f"{k} dims x {bits} bits overflows a long")
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
          for c in cols]
    mask = (1 << bits) - 1
    terms = []
    for d, c in enumerate(cs):
        x = c.bitwiseAND(F.lit(mask))
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                            i * k + d))
    return reduce(lambda a, b: a + b, terms)


def zorder_sql_expr(col_names: list[str], bits: int = 8) -> str:
    """The same interleave as `zorder_value`, as a portable SQL
    expression string (DuckDB/ANSI `&`, `>>`, `<<`; terms summed —
    disjoint bit positions make + equal to OR)."""
    k = len(col_names)
    mask = (1 << bits) - 1
    terms = []
    for d, name in enumerate(col_names):
        x = f"(CAST({name} AS BIGINT) & {mask})"
        for i in range(bits):
            terms.append(f"((({x} >> {i}) & 1) << {i * k + d})")
    return "(" + " + ".join(terms) + ")"


# --- deterministic global shuffle ------------------------------------------
# Training pipelines need the corpus in a pseudo-random but REPRODUCIBLE
# order (same seed ⇒ same order, across reruns and cluster sizes).
# Keying every row by md5(seed || id) and range-partition-sorting on
# that key is a seeded permutation with no single-reducer sort: the
# range exchange spreads the hash space evenly (md5 is uniform), so
# every partition gets ~n/p rows regardless of the input's own order.

def shuffle_key(id_col: Column | str, seed: int) -> Column:
    """Seeded permutation key: md5 over 'seed|id'. Hex-string compare
    gives the same total order in any engine (ASCII, fixed width)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat_ws("|", F.lit(str(seed)), c.cast("string")))


def deterministic_shuffle(df: DataFrame, id_col: str, seed: int,
                          out_col: str = "pos",
                          num_partitions: int | None = None,
                          key_col: str | None = None) -> DataFrame:
    """Assign each row its 1-based position in the seeded global shuffle
    order, without a global single-partition sort: the two-phase
    range-partitioned row number (operators/scd2.py:dense_row_number)
    keeps the sort distributed and the only tiny side plan is one row
    per partition. Ties (md5 collisions) break on the id itself, so the
    permutation is total and reproducible.

    Returns the input columns plus ``out_col``. Pass ``key_col`` to also
    expose the md5 permutation key under that name (callers that want
    the key itself, e.g. to persist the ordering); by default the
    internal key column is dropped."""
    from pyspark_etl_project_spark.functions.reserved import (
        require_free_columns)
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    require_free_columns(df, ["_shuffle_key"], "deterministic_shuffle")
    keyed = df.withColumn("_shuffle_key", shuffle_key(id_col, seed))
    numbered = dense_row_number(keyed, ["_shuffle_key", id_col], out_col,
                                num_partitions=num_partitions)
    if key_col is not None:
        return numbered.withColumnRenamed("_shuffle_key", key_col)
    return numbered.drop("_shuffle_key")


def compact_small_files(spark, src_path: str, dst_path: str,
                        order_col: str, target_rows_per_file: int):
    """Small-files compaction — the lakehouse maintenance pass that
    rewrites a fragmented directory (streaming appends, per-batch
    files) into ceil(n / target) range-partitioned files sorted by
    ``order_col``, so downstream scans get both fewer tasks and
    min-max-prunable files. Row count is preserved exactly; the
    only shuffle is the range exchange that also fixes the layout.

    Returns (rows_written, files_written)."""
    import math

    # mergeSchema: the source is a fragmented APPEND dir — exactly
    # where schema evolution accumulates. A single-footer read could
    # pick an old file's schema and the compacted copy would silently
    # drop a late-added column (the r13 vacuum/merge bug class). The
    # footer merge is O(files) metadata on files this pass fully reads
    # anyway.
    df = spark.read.option("mergeSchema", "true").parquet(src_path)
    n = df.count()
    parts = max(1, math.ceil(n / target_rows_per_file))
    (df.repartitionByRange(parts, F.col(order_col))
       .sortWithinPartitions(order_col)
       .write.mode("overwrite").parquet(dst_path))
    # Count written files through the Hadoop FileSystem API (works on
    # any supported filesystem — s3a/gs/abfs — where a local os.listdir
    # would raise): one driver-side metadata listing, where the former
    # `_metadata.file_path` distinct-count launched a whole Spark job
    # that re-read every footer just to count files.
    from pyspark_etl_project_spark.operators.fs import hadoop_fs

    # Count only parquet DATA files (part-*.parquet), not merely
    # non-hidden names: a committer artifact or stray visible file
    # would otherwise inflate the count, and the pinned oracle value
    # (files_written) is about data files specifically (r17 ADVICE).
    _, fs, jpath = hadoop_fs(spark, dst_path)
    files = sum(1 for s in fs.listStatus(jpath)
                if s.isFile()
                and s.getPath().getName().startswith("part-")
                and s.getPath().getName().endswith(".parquet"))
    return n, files
