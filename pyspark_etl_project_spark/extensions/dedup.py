"""Corpus deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash — generalizing the reference's md5-identity CDC (H1) to fuzzy
identity at corpus scale.

Scale design:
- Exact dedup: hash-groupBy (one shuffle on the 32-char digest, salted
  automatically by AQE if a boilerplate doc dominates).
- MinHash-LSH: shingle→signature→band is ONE per-row Arrow stage
  (_banded_batches; no shuffle) that every MinHash caller shares —
  banded_frame for candidate generation and the streaming band index,
  minhash_calibration for the per-doc shingles and signature it
  scores. Candidate generation shuffles on (band_id, band_hash)
  buckets only — never the full cross join; verification joins only
  candidate pairs.
- Both Arrow stages (the gram stage and the banding stage) tokenize
  with one helper (_java_tokens) and emit through one bounded flush
  (_flushed_batches): worker memory is bounded by _ARROW_FLUSH_ROWS
  output rows, not by document length × docs per batch.
- SimHash: per-row signature, near-dup = same signature bucket (or
  Hamming probing by re-bucketing on signature halves).
- All hashes are md5-derived (stable across engines/runs — no
  seed-dependent xxhash), so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

import hashlib
import re
from itertools import islice

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Java-regex \s, ASCII-only — java.util.regex without
#: UNICODE_CHARACTER_CLASS matches exactly [ \t\n\x0B\f\r]; Python's
#: \s would ALSO match unicode whitespace and silently diverge the
#: tokenization from the JVM/oracle definition.
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")

#: Output rows an Arrow stage holds before it yields a RecordBatch.
#: One document can expand to a row per k-gram window, so without a
#: fixed cut a single long document (or a batch of them) would be
#: buffered whole in the Python worker.
_ARROW_FLUSH_ROWS = 8192


def _java_tokens(txt: str) -> list[str]:
    """extensions.text.tokens in Python: trim ASCII spaces, split on
    Java \\s, drop empties."""
    s = txt.strip(" ")
    return [t for t in _JAVA_WS.split(s) if t != ""] if s else []


def _flushed_batches(batches, doc_rows, fields):
    """Drive an Arrow stage: ``doc_rows(id, text)`` yields one output
    tuple per row (id first) and the rows are yielded as RecordBatches
    of at most _ARROW_FLUSH_ROWS rows — mid-document if need be, so
    worker memory stays bounded by the constant. ``fields`` is the
    (name, arrow type) list of the columns after the id, which keeps
    its input name and type. Input columns arrive by POSITION: 0=id,
    1=text."""
    import pyarrow as pa

    buf: list[tuple] = []
    names = types = None

    def flush():
        cols = zip(*buf)
        out = pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(cols, types)], names=names)
        buf.clear()
        return out

    for batch in batches:
        ids = batch.column(0)
        names = [batch.schema.names[0]] + [n for n, _ in fields]
        types = [ids.type] + [t for _, t in fields]
        for did, txt in zip(ids.to_pylist(), batch.column(1).to_pylist()):
            rows = doc_rows(did, txt)
            # extend(islice) drains the doc's rows at C speed, stopping
            # at the bound.
            buf.extend(islice(rows, _ARROW_FLUSH_ROWS - len(buf)))
            while len(buf) == _ARROW_FLUSH_ROWS:
                yield flush()
                buf.extend(islice(rows, _ARROW_FLUSH_ROWS))
    if buf:
        yield flush()


def _gram_hash_batches(k: int, with_n: bool):
    """mapInArrow stage replicating the JVM gram pipeline bit-for-bit:
    tokens → k-gram windows joined by ' ' → md5 hex. Emits (id, [_n,]
    _start, _gh) per window. Python hashlib.md5 over UTF-8 bytes is
    the same function as Spark's md5 over UTF8String bytes, so the
    hashes are identical (verified row-for-row at all three SFs).

    Why Python wins here (guide §4.2): the JVM path is an interpreted
    zip_with/slice/concat higher-order chain plus per-row md5 codegen;
    the Arrow path amortizes one C md5 per window with no expression
    interpretation. In-session A/B at sf0.1: 0.92 s → 0.62 s for the
    gram stage alone.

    ``with_n=True`` additionally emits ONE header row per document
    (_start = -1, _gh = null, _n = token count) — every document, even
    those too short for a single window — so one text pass serves both
    the gram stream and the per-doc token counts a stats consumer
    joins back on."""
    def doc_rows(did, txt):
        if txt is None:
            # JVM parity: size(tokens(NULL)) is NULL, and NULL text
            # yields no gram rows (posexplode of NULL).
            if with_n:
                yield (did, None, -1, None)
            return
        w = _java_tokens(txt)
        n = len(w)
        if with_n:
            yield (did, n, -1, None)
        for i in range(n - k + 1):
            gh = hashlib.md5(" ".join(w[i:i + k]).encode()).hexdigest()
            yield (did, n, i, gh) if with_n else (did, i, gh)

    def fn(batches):
        import pyarrow as pa
        fields = ([("_n", pa.int32())] if with_n else []) + [
            ("_start", pa.int32()), ("_gh", pa.string())]
        yield from _flushed_batches(batches, doc_rows, fields)
    return fn


def _gram_hash_frame(df: DataFrame, id_col: str, text_col: str, k: int,
                     with_n: bool) -> DataFrame:
    """(id, [_n,] _start, _gh) duplicated-window candidate frame via
    the Arrow stage above; selects only the two needed columns first so
    scan pruning survives the opaque function (guide §4.1)."""
    from pyspark.sql import types as T

    fields = [df.schema[id_col]]
    if with_n:
        fields.append(T.StructField("_n", T.IntegerType()))
    fields += [T.StructField("_start", T.IntegerType()),
               T.StructField("_gh", T.StringType())]
    return (df.select(F.col(id_col), F.col(text_col))
              .mapInArrow(_gram_hash_batches(k, with_n),
                          T.StructType(fields)))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).
    Documents shorter than n words yield an empty array."""
    from pyspark_etl_project_spark.extensions.text import ngram_array, tokens

    # tokens() drops the phantom '' token an empty/whitespace-only doc
    # would otherwise contribute — repo-wide whitespace-tokenization
    # semantics, mirrored by the list_filter in every SQL twin.
    return F.array_distinct(ngram_array(tokens(col), n))


def _banded_batches(num_hashes: int, num_bands: int, rows_per_band: int,
                    shingle_n: int, with_sig: bool):
    """mapInArrow MinHash stage — the engine's one shingle→signature→band
    implementation: tokens → distinct ``shingle_n``-gram shingles
    joined by ' ' (first-occurrence order, as array_distinct over
    word_shingles) → per seed k, min over md5('k|'||shingle) hex
    (Python str min == UTF8String binary compare on ASCII hex) → per
    band, md5 of the '|'-joined signature slice. Docs with no shingles
    (NULL/short text) emit nothing. Emits (id, band_id, band_hash) per
    band.

    ``with_sig=True`` additionally emits ONE header row per emitted
    document ahead of its bands (band_id = -1, band_hash = null) that
    carries the doc's shingles ``_sh`` and signature ``_sig``; band
    rows then carry null ``_sh``/``_sig``. One text pass thereby
    serves both the band join and a consumer of the per-doc sets
    (minhash_calibration).

    Why Python wins here (guide §4.2): a JVM transform-lambda md5 per
    (seed × shingle) walks 8 closures per row and showed multi-second
    GC spikes in the interleaved A/B (6.7 s worst rep vs Arrow's
    1.2 s); the Arrow path is one C md5 per (seed × distinct shingle)
    with no expression interpretation (median 0.69 → 0.52 s on the
    sf0.1 stream slice, identical 18,800-row output)."""
    prefixes = [f"{k}|".encode() for k in range(num_hashes)]

    def doc_rows(did, txt):
        w = _java_tokens(txt) if txt is not None else []
        if len(w) < shingle_n:
            return
        grams = dict.fromkeys(" ".join(w[i:i + shingle_n]).encode()
                              for i in range(len(w) - shingle_n + 1))
        sig = [min(hashlib.md5(p + g).hexdigest() for g in grams)
               for p in prefixes]
        if with_sig:
            yield (did, -1, None, [g.decode() for g in grams], sig)
        for b in range(num_bands):
            bh = hashlib.md5("|".join(sig[b * rows_per_band:
                                          (b + 1) * rows_per_band])
                             .encode()).hexdigest()
            yield (did, b, bh, None, None) if with_sig else (did, b, bh)

    def fn(batches):
        import pyarrow as pa
        fields = [("band_id", pa.int32()), ("band_hash", pa.string())]
        if with_sig:
            fields += [("_sh", pa.list_(pa.string())),
                       ("_sig", pa.list_(pa.string()))]
        yield from _flushed_batches(batches, doc_rows, fields)
    return fn


def _banded_rows(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int, num_bands: int, shingle_n: int,
                 rows_per_band: int, with_sig: bool) -> DataFrame:
    """The banding stage above as a frame; selects only the two needed
    columns first so scan pruning survives the opaque function (guide
    §4.1)."""
    from pyspark.sql import types as T

    # band_id is never null, and band_hash only on with_sig header
    # rows — so banded_frame keeps both non-nullable.
    fields = [df.schema[id_col],
              T.StructField("band_id", T.IntegerType(), nullable=False),
              T.StructField("band_hash", T.StringType(),
                            nullable=with_sig)]
    if with_sig:
        fields += [T.StructField("_sh", T.ArrayType(T.StringType())),
                   T.StructField("_sig", T.ArrayType(T.StringType()))]
    return (df.select(F.col(id_col), F.col(text_col))
              .mapInArrow(_banded_batches(num_hashes, num_bands,
                                          rows_per_band, shingle_n,
                                          with_sig),
                          T.StructType(fields)))


def banded_frame(df: DataFrame, id_col: str, text_col: str,
                 num_hashes: int = 8, num_bands: int = 4,
                 shingle_n: int = 3,
                 rows_per_band: int | None = None) -> DataFrame:
    """Flat (id, band_id, band_hash) MinHash-LSH band rows of a
    document frame (_banded_batches) — docs sharing any (band_id,
    band_hash) bucket are near-dup candidates."""
    if rows_per_band is None:
        rows_per_band = _rows_per_band(num_hashes, num_bands)
    return _banded_rows(df, id_col, text_col, num_hashes, num_bands,
                        shingle_n, rows_per_band, with_sig=False)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id document per exact text hash; returns
    (id, content_hash, group size)."""
    h = F.md5(F.col(text_col))
    return (df.select(F.col(id_col), h.alias("content_hash"))
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def jaccard_pairs(df: DataFrame, id_col: str, shingle_col: str,
                  threshold_num: int, threshold_den: int,
                  max_doc_freq: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.
    Shuffles on the shingle (inverted index), not the doc cross join.
    Returns (id_a, id_b, inter_n, union_n) with id_a < id_b and
    Jaccard ≥ threshold_num/threshold_den. The threshold is an integer
    ratio so the cut is exact integer math (float thresholds round
    differently across engines at the boundary).

    ``max_doc_freq`` is the stop-shingle ceiling: a shingle present in k
    documents contributes k² candidate rows to the self-join, so one
    boilerplate shingle ("all rights reserved …") on a web corpus is a
    cartesian-product-shaped blowup. Shingles with document frequency
    above the cap are dropped from the inverted index *before* the pair
    join (one extra groupBy on the shingle — same shuffle key the join
    needs anyway). Recall tradeoff: a pair whose every shared shingle is
    a stop-shingle is missed — but such pairs share only boilerplate, so
    at dedup thresholds they are noise, not signal. Dropped shingles
    still count toward each doc's set size, so for a pair that SHARES a
    stop-shingle the union sz_a+sz_b-inter_n double-counts it: both the
    intersection and the resulting Jaccard are underestimates, not just
    the recall. What stays exact is engine/oracle parity — both sides
    compute the same capped statistic. None disables the cap.

    The input frame feeds four consumers (sizes + both self-join sides
    + the doc-frequency cap); a lazy localCheckpoint materializes the
    caller's shingling pass once instead of replaying it per branch."""
    df = df.localCheckpoint(eager=False)
    sizes = df.select(F.col(id_col).alias("_id"), F.size(shingle_col).alias("_sz"))
    inv = df.select(F.col(id_col).alias("_id"),
                    F.explode(shingle_col).alias("_sh"))
    if max_doc_freq is not None:
        rare = (inv.groupBy("_sh")
                   .agg(F.count(F.lit(1)).alias("_df"))
                   .filter(F.col("_df") <= max_doc_freq)
                   .select("_sh"))
        inv = inv.join(rare, "_sh")
    pairs = (inv.alias("a").join(inv.alias("b"), on="_sh")
             .filter(F.col("a._id") < F.col("b._id"))
             .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter_n")))
    out = (pairs
           .join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "sz_a"), "id_a")
           .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_sz", "sz_b"), "id_b")
           .withColumn("union_n", F.col("sz_a") + F.col("sz_b") - F.col("inter_n"))
           .filter(F.col("inter_n") * threshold_den >= F.col("union_n") * threshold_num)
           .select("id_a", "id_b", "inter_n", "union_n"))
    return out


def levenshtein_candidates(df: DataFrame, id_col: str, text_col: str,
                           prefix_len: int = 40, block_chars: int = 2,
                           length_bucket: int = 8,
                           max_block_size: int | None = 64,
                           max_dist: int = 20) -> DataFrame:
    """Bounded-edit-distance near-dup candidates via two-level blocking.

    Blocking key = (first ``block_chars`` chars of the whitespace-
    normalized prefix, floor(len(prefix) / ``length_bucket``)). A char
    prefix alone has FIXED cardinality (~10³ buckets), so block size —
    and the within-block all-pairs self-join — grows linearly with the
    corpus: O(block²) pairs, the cartesian-shaped blowup that
    ``jaccard_pairs.max_doc_freq`` exists to prevent. Two bounds fix it:
    the length bucket multiplies the key space (and cheaply excludes
    pairs whose lengths already imply a large distance), and
    ``max_block_size`` is the hard ceiling — blocks larger than the cap
    are dropped entirely *before* the self-join, via a window count on
    the block key (the same shuffle partitioning the join needs, so the
    guard adds no extra exchange). Recall trade: pairs split across a
    length-bucket boundary or living only in over-cap blocks are missed —
    this returns candidates, not an exact join. Output (id_a, id_b,
    edit_dist) with id_a < id_b and edit_dist <= ``max_dist``; the
    unit-cost DP distance itself is value-exact across engines.
    ``max_block_size=None`` disables the ceiling."""
    p = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1, prefix_len)
    d = df.select(F.col(id_col).alias("_id"), p.alias("_p"))
    d = d.withColumn(
        "_blk",
        F.concat_ws("|", F.substring("_p", 1, block_chars),
                    F.floor(F.length("_p") / length_bucket).cast("string")))
    if max_block_size is not None:
        d = (d.withColumn("_bn",
                          F.count(F.lit(1)).over(Window.partitionBy("_blk")))
              .filter(F.col("_bn") <= max_block_size).drop("_bn"))
    a = d.select(F.col("_id").alias("id_a"), F.col("_p").alias("_pa"), "_blk")
    b = d.select(F.col("_id").alias("id_b"), F.col("_p").alias("_pb"), "_blk")
    return (a.join(b, "_blk")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("edit_dist", F.levenshtein("_pa", "_pb"))
             .filter(F.col("edit_dist") <= max_dist)
             .select("id_a", "id_b", "edit_dist"))


def _rows_per_band(num_hashes: int, num_bands: int) -> int:
    """Loud divisibility check for the banded-LSH split: a remainder
    would silently DROP the trailing signature positions from every
    band (computed, paid for, never bucketed) — weaker recall than the
    requested signature length with no visible symptom."""
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by "
            f"num_bands={num_bands}: {num_hashes % num_bands} trailing "
            "MinHash values would be silently excluded from every band")
    return num_hashes // num_bands


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 8, num_bands: int = 4,
                           shingle_n: int = 3) -> DataFrame:
    """MinHash + banded LSH candidate pairs: (id_a, id_b, n_shared_bands).
    Only docs colliding in ≥1 band bucket pair up — the shuffle key is the
    band bucket, so cost scales with bucket occupancy, not n²."""
    flat = (banded_frame(df, id_col, text_col, num_hashes, num_bands,
                         shingle_n)
            .withColumnRenamed(id_col, "_id"))
    pairs = (flat.alias("x").join(flat.alias("y"), on=["band_id", "band_hash"])
             .filter(F.col("x._id") < F.col("y._id"))
             .groupBy(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))
    return pairs


def simhash_bits(df: DataFrame, id_col: str, text_col: str,
                 num_bits: int = 16) -> DataFrame:
    """SimHash signature as a bit string: per token, md5-derived bits
    vote +1/-1 per position; the sign of each position's sum is the
    signature bit. Identical/near-identical token multisets converge to
    the same signature.

    Row-local except one groupBy on (id, bit position) — at corpus scale
    the token explode is the cost; positions are a constant factor."""
    from pyspark_etl_project_spark.extensions.text import tokens

    toks = df.select(F.col(id_col).alias("_id"),
                     F.explode(tokens(text_col)).alias("_t"))
    hashed = toks.select("_id", F.md5(F.col("_t")).alias("_h"))
    pos = hashed.select(
        "_id", F.posexplode(F.array(*[
            # bit b of the token hash: hex nibble b, low bit
            (F.conv(F.substring(F.col("_h"), b + 1, 1), 16, 10)
              .cast("int") % 2 * 2 - 1)
            for b in range(num_bits)
        ])).alias("_bit", "_vote"))
    votes = pos.groupBy("_id", "_bit").agg(F.sum("_vote").alias("_s"))
    bits = votes.groupBy("_id").agg(
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct("_bit", "_s"))),
            lambda x: F.when(x["_s"] > 0, F.lit("1")).otherwise(F.lit("0"))
        )).alias("simhash"))
    return bits.select(F.col("_id").alias(id_col), "simhash")


def deterministic_split(df: DataFrame, id_col: str,
                        fractions: dict[str, int],
                        out_col: str = "split",
                        salt: str = "split-v1") -> DataFrame:
    """Reproducible train/val/test assignment: bucket each row by the
    first 4 hex digits of md5(salt || id) modulo 100 and carve the
    [0,100) range by the given integer percentages (e.g.
    {"train": 90, "val": 5, "test": 5}).

    Unlike randomSplit/sampleBy this is a pure function of the id — the
    same row lands in the same split on every run, on any cluster, and
    in any engine (md5 is portable), which is what a training-data
    pipeline needs for leak-free re-runs and incremental appends. A
    map-side expression: no shuffle, no RNG state.
    """
    if sum(fractions.values()) != 100:
        raise ValueError(f"fractions must sum to 100: {fractions}")
    bucket = (F.conv(F.substring(F.md5(
        F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))), 1, 4),
        16, 10).cast("long") % 100)
    expr = None
    lo = 0
    for name, pct in fractions.items():
        cond = (bucket >= lo) & (bucket < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn(out_col, expr)


def stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                      rates: dict[str, int], default_pct: int = 0,
                      salt: str = "strat-v1") -> DataFrame:
    """Deterministic stratified sampling: keep ``rates[stratum]`` percent
    of each stratum (e.g. downsample English to 50% while keeping all
    German), decided purely by md5(salt || id) — the same row keeps or
    drops on every run, engine, and incremental append, unlike
    ``sampleBy`` whose RNG draw is per-task.

    A map-side filter expression: no shuffle, no RNG state, composes
    with any downstream plan. Strata not in ``rates`` keep
    ``default_pct`` percent."""
    for name, pct in rates.items():
        if not 0 <= pct <= 100:
            raise ValueError(f"rate out of range for {name!r}: {pct}")
    bucket = (F.conv(F.substring(F.md5(
        F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))), 1, 4),
        16, 10).cast("long") % 100)
    keep_pct = None
    for name, pct in rates.items():
        cond = F.col(strata_col) == name
        keep_pct = (F.when(cond, pct) if keep_pct is None
                    else keep_pct.when(cond, pct))
    keep_pct = (keep_pct.otherwise(default_pct) if keep_pct is not None
                else F.lit(default_pct))
    return df.filter(bucket < keep_pct)


def quota_sample(df: DataFrame, id_col: str, group_cols: list[str],
                 max_per_group: int, salt: str = "quota-v1",
                 out_col: str = "rn") -> DataFrame:
    """Deterministic per-group quota: keep at most ``max_per_group`` rows
    from each group, chosen by md5(salt || id) order — the uniform-random
    subset a curation pipeline wants when capping a dominant domain or
    language, but reproducible across runs, engines, and incremental
    appends (a surviving row only ever drops out when enough NEW rows
    hash ahead of it; it never flips due to RNG state).

    One shuffle on the group key; the per-group sort is bounded by the
    window, and groups are domain/language-grained (thousands of rows at
    most per partition after the hash ordering), so no single task sees
    the whole corpus. ``out_col`` carries the 1-based rank for
    auditability.
    """
    if max_per_group < 1:
        raise ValueError(f"max_per_group must be >= 1: {max_per_group}")
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h, F.col(id_col))
    return (df.withColumn(out_col, F.row_number().over(w).cast("int"))
              .filter(F.col(out_col) <= max_per_group))


def connected_dedup_clusters(pairs: DataFrame, ids: DataFrame,
                             id_col: str = "doc_id",
                             a_col: str = "id_a", b_col: str = "id_b",
                             max_iters: int = 20) -> DataFrame:
    """Collapse near-dup PAIRS (from LSH/Jaccard/SimHash candidates)
    into CLUSTERS: every document gets the min id reachable through the
    pair graph (its canonical representative). Returns (id, cluster_id);
    keep rows where id == cluster_id to dedup.

    Algorithm: iterative min-label propagation over an adjacency list —
    each round joins current labels across edges and keeps the min
    neighbor label. From round 3 on, each round also POINTER-DOUBLES
    (every node jumps to its label's label — path halving), making
    late-stage convergence O(log diameter) instead of O(diameter): a
    1000-link chain (pathological but possible in a boilerplate-heavy
    web corpus) resolves in ~12 rounds, not ~1000. The doubling join is
    deliberately NOT applied in the first two rounds: near-dup clusters
    are typically diameter <= 2 (doc + its clones), so propagation alone
    converges immediately and the extra shuffled join would be pure
    overhead on the common case (measured ~1.5x slower at sf0.1).
    No driver-side graph, no GraphX/RDDs; `localCheckpoint` per round
    truncates the lineage so plan depth stays constant at scale.
    """
    # The symmetrized edge list is read by EVERY round's neighbor join;
    # without the checkpoint each round re-ran the whole upstream pair
    # generation (LSH banding + candidate join + distinct) from scratch
    # — rounds x the most expensive part of the query (pagerank_integer
    # already pinned its edge frame this way; this loop had not).
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .unionByName(pairs.select(F.col(b_col).alias("src"),
                                       F.col(a_col).alias("dst")))
             .distinct()
             .localCheckpoint(eager=False))
    labels = ids.select(F.col(id_col).alias("node"),
                        F.col(id_col).alias("label"))

    def label_sum(df: DataFrame):
        # Labels only ever decrease, so the total strictly drops on any
        # change — a single agg detects convergence with no self-join.
        # decimal(38,0) so web-scale id sums cannot overflow a long.
        row = df.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()
        return row["s"]

    # prev_sum starts unknown rather than paying a dedicated job to sum
    # the initial labels: round 1 then never breaks early, which only
    # costs anything on an edgeless (already-converged) input — one
    # spare round there buys one fewer full upstream scan on EVERY real
    # input (the initial sum scanned the whole ids lineage; guide §1.2).
    prev_sum = None
    for it in range(max_iters):
        neighbor = (edges.join(labels, edges["dst"] == labels["node"])
                    .groupBy("src").agg(F.min("label").alias("nlabel")))
        updated = (labels.join(neighbor, labels["node"] == neighbor["src"], "left")
                   .select(F.col("node"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nlabel"), F.col("label")))
                            .alias("label")))
        if it >= 2:
            # Still not converged after two plain rounds — a deep chain.
            # Pointer doubling: jump to the label's own label (labels
            # only decrease, so label-of-label <= label, no min-merge).
            lookup = updated.select(F.col("node").alias("_ln"),
                                    F.col("label").alias("_lv"))
            updated = (updated.join(lookup, updated["label"] == lookup["_ln"],
                                    "left")
                       .select("node",
                               F.coalesce("_lv", "label").alias("label")))
        updated = updated.localCheckpoint(eager=True)
        cur_sum = label_sum(updated)
        labels = updated
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster_id"))


def contamination_check(train: DataFrame, holdout: DataFrame,
                        id_col: str, text_col: str, n: int = 5,
                        max_doc_freq: int | None = 1000) -> DataFrame:
    """Benchmark decontamination: for each holdout document, count the
    distinct training documents sharing at least one word n-gram and
    how many distinct n-grams leak — the hygiene pass every pretraining
    corpus runs against its eval sets before training.

    Same inverted-index shape as ``jaccard_pairs`` (shuffle key = the
    n-gram, never a doc cross join), with the stop-shingle ceiling
    applied to the TRAIN index: an n-gram present in more than
    ``max_doc_freq`` training docs is boilerplate, and dropping it
    before the join bounds the fan-out (recall trade: contamination
    visible ONLY through boilerplate n-grams is missed). Returns
    (holdout id, n_train_docs, n_shared_ngrams); holdout docs with no
    overlap produce no row (anti-join them for the clean list)."""
    tr = train.select(F.col(id_col).alias("_tid"),
                      F.explode(word_shingles(text_col, n)).alias("_sh"))
    if max_doc_freq is not None:
        rare = (tr.groupBy("_sh")
                  .agg(F.count(F.lit(1)).alias("_df"))
                  .filter(F.col("_df") <= max_doc_freq)
                  .select("_sh"))
        tr = tr.join(rare, "_sh")
    ev = holdout.select(F.col(id_col),
                        F.explode(word_shingles(text_col, n)).alias("_sh"))
    return (ev.join(tr, "_sh")
              .groupBy(id_col)
              .agg(F.countDistinct("_tid").alias("n_train_docs"),
                   F.countDistinct("_sh").alias("n_shared_ngrams")))


def temperature_mixture_sample(df: DataFrame, id_col: str, source_col: str,
                               budget: int, salt: str = "temp-v1",
                               out_col: str = "rn") -> DataFrame:
    """Temperature-weighted mixture sampling (the T5/Pile source
    re-balancing step): per-source quotas proportional to n_i^0.5, so
    small sources are up-weighted relative to their share and dominant
    ones capped, then each quota filled by deterministic md5 order.

    Cross-engine determinism is engineered in: the only float op is
    SQRT (IEEE-correctly-rounded in every engine), immediately scaled
    and floored into a BIGINT weight; quotas are then pure integer
    arithmetic (budget * w // sum(w), min 1). Everything else is the
    quota_sample machinery: one bounded shuffle on the source key, a
    broadcast of the k-row quota table, no RNG state.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1: {budget}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    weights = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("_n")) * 1_000_000).cast("long"))
    total = weights.agg(F.sum("_w").alias("_tw"))
    quotas = (weights.crossJoin(F.broadcast(total))
              .withColumn("_quota",
                          F.greatest(F.lit(1).cast("long"),
                                     F.expr(f"({budget} * _w) div _tw")))
              .select(source_col, "_quota"))
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    return (df.join(F.broadcast(quotas), source_col)
              .withColumn(out_col, F.row_number().over(w).cast("int"))
              .filter(F.col(out_col) <= F.col("_quota"))
              .drop("_quota"))


def build_band_index(df: DataFrame, text_col: str,
                     num_hashes: int = 8, num_bands: int = 4,
                     shingle_n: int = 3) -> DataFrame:
    """Distinct (band_id, band_hash) bucket set of a corpus — the
    compact persisted sidecar incremental NEAR-dup needs (the analogue
    of the fingerprint index incremental exact dedup reads). Presence-
    only: no doc ids, so its size is the distinct bucket count, and at
    100 TB the daily increment joins against this index — corpus text
    is never re-shingled."""
    src = df.select(F.lit(0).cast("int").alias("_id"),
                    F.col(text_col).alias("_t"))
    return (banded_frame(src, "_id", "_t", num_hashes, num_bands,
                         shingle_n)
            .select("band_id", "band_hash")
            .distinct())


def incremental_minhash_dedup(batch: DataFrame, corpus_index: DataFrame,
                              id_col: str, text_col: str,
                              num_hashes: int = 8, num_bands: int = 4,
                              shingle_n: int = 3) -> DataFrame:
    """Classify each doc of a new batch against an existing corpus's
    band index — the production daily-increment shape for NEAR-dup
    (the exact-dup analogue lives in the incremental fingerprint
    anti-join):

    - ``corpus_dup``: shares ≥1 band bucket with the corpus index;
    - ``batch_dup``: not a corpus dup, but shares a bucket with a
      LOWER-id batch doc that is itself not a corpus dup (one-hop,
      deterministic — full clustering is `connected_dedup_clusters`);
    - ``fresh`` otherwise (including docs too short to shingle).

    Scale shape: the corpus side is its bucket index only; the batch
    explodes to (doc, band) rows and semi/anti-joins on the bucket —
    shuffle keys are band buckets (md5-uniform except for genuinely
    repeated content; AQE skew-join covers hot buckets). Nothing
    rescans corpus text, nothing is all-pairs."""
    banded = banded_frame(batch, id_col, text_col, num_hashes,
                          num_bands, shingle_n)
    corpus_dups = (banded.join(corpus_index, ["band_id", "band_hash"],
                               "left_semi")
                   .select(id_col).distinct())
    clean = banded.join(corpus_dups, id_col, "left_anti")
    batch_dups = (clean.alias("x")
                  .join(clean.alias("y"), on=["band_id", "band_hash"])
                  .filter(F.col(f"y.{id_col}") < F.col(f"x.{id_col}"))
                  .select(F.col(f"x.{id_col}").alias(id_col)).distinct())
    return (batch.select(id_col)
            .join(corpus_dups.withColumn("_cd", F.lit(1)), id_col, "left")
            .join(batch_dups.withColumn("_bd", F.lit(1)), id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("_cd") == 1, F.lit("corpus_dup"))
                     .when(F.col("_bd") == 1, F.lit("batch_dup"))
                     .otherwise(F.lit("fresh")).alias("status")))


def winnowing_contamination(train: DataFrame, holdout: DataFrame,
                            id_col: str, text_col: str,
                            k: int = 3, window: int = 4,
                            broadcast_holdout: bool = True) -> DataFrame:
    """Verbatim-overlap contamination between a train corpus and a
    holdout/benchmark set via winnowing fingerprints (text.py:
    winnowing_fingerprints): any shared passage of >= k + window - 1
    tokens is GUARANTEED to share a selected fingerprint — the
    containment guarantee n-gram Jaccard and minhash (which bound
    set similarity, not substring overlap) cannot give, and it holds
    under position shifts (a quoted benchmark item inside a longer
    train document still collides).

    Returns one row per contaminated train document:
    (id_col, n_shared_fps, n_holdout_docs).

    Scale shape: both fingerprint sets are per-doc map+window work
    (one doc-key shuffle each); the holdout side is tiny by definition
    (a benchmark), so its fingerprints broadcast and the train side
    NEVER shuffles on the fingerprint — the whole check is one
    broadcast-join pass plus the per-train-doc count. Set
    ``broadcast_holdout=False`` only if the holdout is itself huge;
    the join key (md5-derived hash) is uniform, so even the shuffled
    form has no skew.
    """
    from pyspark_etl_project_spark.extensions.text import (
        winnowing_fingerprints)

    tf = winnowing_fingerprints(train, id_col, text_col, k, window)
    hf = (winnowing_fingerprints(holdout, id_col, text_col, k, window)
          .withColumnRenamed(id_col, "_holdout_id"))
    if broadcast_holdout:
        hf = F.broadcast(hf)
    hits = tf.join(hf, "fp")
    return (hits.groupBy(id_col)
            .agg(F.countDistinct("fp").alias("n_shared_fps"),
                 F.countDistinct("_holdout_id").alias("n_holdout_docs")))


def leakage_safe_split(pairs: DataFrame, ids: DataFrame,
                       fractions: dict[str, int],
                       id_col: str = "doc_id",
                       out_col: str = "split",
                       salt: str = "split-v1") -> DataFrame:
    """Train/val/test assignment that can never leak a near-duplicate
    across splits: documents are first collapsed into near-dup clusters
    (connected_dedup_clusters over the candidate-pair graph), then the
    md5 split bucket is computed on the CLUSTER id, so every member of
    a cluster lands in the same split by construction. Splitting on the
    raw doc id — what deterministic_split does — puts two near-copies
    of the same page on opposite sides of the train/test wall, the
    classic eval-contamination bug this operator exists to close.

    Returns (id_col, cluster_id, out_col). Scale shape: the cluster
    pass is the pointer-doubling O(log diameter) join chain; the split
    itself stays a pure map expression on cluster_id — no extra
    shuffle beyond the clustering the dedup pipeline already ran.
    """
    clusters = connected_dedup_clusters(pairs, ids, id_col)
    return deterministic_split(clusters, "cluster_id", fractions,
                               out_col=out_col, salt=salt)


def cross_source_overlap(df, id_col: str, text_col: str, source_col: str,
                         k: int = 3, window: int = 4):
    """Pairwise source content-overlap matrix — the curation diagnostic
    that answers "how much of source A is also in source B" before
    mixing corpora (two crawls of the web overlap heavily; training on
    both double-counts the shared content). Overlap is measured on
    winnowing fingerprints (extensions/text.py:winnowing_fingerprints),
    so PARTIAL verbatim overlap registers — a whole-document hash would
    call two near-identical crawls disjoint.

    Returns one row per unordered source pair (source_a < source_b):
    ``n_shared_fps`` (distinct fingerprints present in both) and
    ``containment_ppm`` (shared / the smaller side's fingerprint count,
    in parts-per-million — the asymmetric-size-robust overlap measure).

    Scale shape: fingerprinting is the winnowing pass (per-doc window,
    no global state); the source tag joins back on the doc id (uniform
    key); one shuffle on the fingerprint collapses each fingerprint to
    its distinct source set — bounded by the NUMBER OF SOURCES — and
    the source pairs are exploded from that set, so there is no
    self-join; per-source totals are k rows and broadcast into the
    final ppm expression."""
    from pyspark_etl_project_spark.extensions.text import (
        winnowing_fingerprints)

    fps = winnowing_fingerprints(df.select(id_col, text_col),
                                 id_col, text_col, k=k, window=window)
    # ONE exchange on the fingerprint collapses each fp to its distinct
    # source set (collect_set dedupes, so the former separate distinct
    # exchange on (src, fp) is free), and every downstream fact — the
    # per-source totals AND the pair overlaps — derives from that tiny
    # per-fp frame. The former shape shuffled the (src, fp) set three
    # more times (distinct + both shuffle_hash self-join sides) and
    # paid a countDistinct aggregate whose input was already unique.
    # Per-fp group state is bounded by the NUMBER OF SOURCES, so the
    # collect_set can never blow up the way a doc-level one could
    # (guide §2.2: shuffle fewer bytes, §2.4: remove shuffles).
    # The lazy localCheckpoint materializes the winnow+agg pass once
    # for its two consumers.
    grouped = (fps.join(df.select(id_col, F.col(source_col).alias("_src")),
                        id_col)
                  .groupBy("fp")
                  .agg(F.sort_array(F.collect_set("_src")).alias("_srcs"))
                  .localCheckpoint(eager=False))
    totals = (grouped.select(F.explode("_srcs").alias("_src"))
              .groupBy("_src")
              .agg(F.count(F.lit(1)).alias("n_fps")))
    # Unordered source pairs per fp: each shared fp contributes exactly
    # one (sa < sb) row per pair, so count(*) == the former
    # countDistinct(fp) — the join input was already (src, fp)-unique.
    pairs = (grouped
             .select(F.explode("_srcs").alias("source_a"), "_srcs")
             .select("source_a", F.explode("_srcs").alias("source_b"))
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_shared_fps")))
    ta = F.broadcast(totals.select(F.col("_src").alias("source_a"),
                                   F.col("n_fps").alias("_na")))
    tb = F.broadcast(totals.select(F.col("_src").alias("source_b"),
                                   F.col("n_fps").alias("_nb")))
    return (pairs.join(ta, "source_a").join(tb, "source_b")
            .select("source_a", "source_b", "n_shared_fps",
                    F.expr("n_shared_fps * 1000000 div least(_na, _nb)")
                     .alias("containment_ppm")))


def duplicate_span_stats(df: DataFrame, id_col: str, text_col: str,
                         k: int = 8, min_count: int = 2) -> DataFrame:
    """Exact duplicated-substring-span detection (the ExactSubstr side
    of "Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022): a token span is a duplicate if some k-token window of
    it occurs ``min_count``-or-more times in the whole corpus.
    Overlapping/adjacent duplicated windows are merged into maximal
    spans; returns one row per input document with integer columns
    ``n_tokens``, ``n_dup_spans``, ``dup_tokens`` (positions covered by
    a merged span) and ``clean_tokens`` — the doc-level signal a
    curation pipeline thresholds on before scrubbing.

    The reference's identity unit is a whole-row md5 (CDC H1); this is
    the corpus-scale sub-document generalization: the suffix-array scan
    of the paper is re-expressed as a distributed k-gram frequency pass,
    which finds exactly the spans whose every length-k window is
    corpus-duplicated (for merged maximal spans the two formulations
    mark the same token positions).

    Scale shape (all key-bounded):
    1. gram-frequency pass: a map-combined groupBy on the gram string
       (one row per distinct gram reaches the shuffle) plus a
       left_semi join marking dup positions — a join, so a boilerplate
       gram present in 30% of docs hits AQE's skew split instead of
       funneling one task (a count WINDOW over the gram would). At
       100 TB you would group on xxhash64(gram) to shrink the shuffle
       key; the raw string is kept so the DuckDB oracle replays it
       verbatim.
    2. span merge: one shuffle on doc_id (window ordered by start).
       The "newly covered tokens" running-max trick folds interval
       merging into the same window pass — no groupBy(doc, island)
       second shuffle, and the following per-doc aggregate reuses the
       doc_id partitioning.
    3. the left join marrying zero-dup docs back: doc_id keyed.
    Nothing is collected; no UDFs."""
    # ONE Arrow pass over the text yields the hashed gram windows AND a
    # per-doc header row carrying the token count (the zero-dup/short
    # -doc join-back below needs every document) — replacing the former
    # tokenize-checkpoint + ngram-explode JVM stages (guide §4.2; the
    # r17 report deferred this rewrite as the largest remaining
    # legitimate win, and the in-session A/B confirmed it).
    g_all = (_gram_hash_frame(df, id_col, text_col, k, with_n=True)
             .localCheckpoint(eager=False))
    toks = g_all.filter(F.col("_start") == -1).select(id_col, "_n")
    grams = g_all.filter(F.col("_start") >= 0).select(id_col, "_start",
                                                      "_gh")
    # Duplicated-gram marking is groupBy + left_semi, NOT a count
    # window over the gram: a window partitioned on the gram funnels
    # every occurrence of a hot gram (a boilerplate passage present in
    # 30% of docs) into ONE task with no partial aggregation and no
    # AQE skew split. The groupBy map-combines to one row per distinct
    # gram before its shuffle, and the semi join back is a join — AQE
    # splits an oversized gram partition across tasks. The shuffle key
    # is md5(gram), not the k-token string (~3x smaller shuffle,
    # measured 1.4x faster end-to-end); the oracle hashes identically,
    # so even a collision (2^-128-scale) could not diverge the gate.
    dup_grams = (grams.groupBy("_gh")
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .filter(F.col("_c") >= min_count)
                 .select("_gh"))
    dup = grams.join(dup_grams, "_gh", "left_semi").drop("_gh")
    w_doc = (Window.partitionBy(id_col).orderBy("_start")
             .rowsBetween(Window.unboundedPreceding, -1))
    # -2 sentinel: a real previous span can end at -1 + k - 1 >= 0, so
    # -1 would make the doc's FIRST dup window look "adjacent" to a
    # phantom span (start == pe + 1) and never open an island.
    pe = F.coalesce(F.max(F.col("_start") + F.lit(k - 1)).over(w_doc),
                    F.lit(-2))
    spans = (dup
             .withColumn("_pe", pe)
             .withColumn("_island",
                         F.when(F.col("_start") > F.col("_pe") + 1, 1)
                          .otherwise(0))
             .withColumn("_newcov",
                         F.col("_start") + F.lit(k - 1)
                         - F.greatest(F.col("_pe"), F.col("_start") - 1))
             .groupBy(id_col)
             .agg(F.sum("_island").alias("_spans"),
                  F.sum("_newcov").alias("_cov")))
    return (toks.select(id_col, "_n")
            .join(spans, id_col, "left")
            .select(
                id_col,
                F.col("_n").cast("int").alias("n_tokens"),
                F.coalesce(F.col("_spans"), F.lit(0)).cast("int")
                 .alias("n_dup_spans"),
                F.coalesce(F.col("_cov"), F.lit(0)).cast("int")
                 .alias("dup_tokens"),
                (F.col("_n") - F.coalesce(F.col("_cov"), F.lit(0)))
                .cast("int").alias("clean_tokens")))


def duplicate_span_scrub(df: DataFrame, id_col: str, text_col: str,
                         k: int = 8, min_count: int = 2) -> DataFrame:
    """Scrub corpus-duplicated spans out of the text itself: every
    token position covered by a corpus-duplicated k-gram window (see
    duplicate_span_stats) is dropped and the survivors are rejoined in
    order. Returns (id, clean_text, n_tokens, kept_tokens).

    Scale shape: dup-gram marking is the same single gram-keyed window
    shuffle as duplicate_span_stats; covered positions explode k rows
    per dup gram (bounded blowup, k is a small constant) and distinct
    on (doc, pos) reuses the doc-keyed shuffle; the surviving-token
    reassembly is a left-anti join plus one groupBy(doc) — sort_array
    on (pos, token) structs rebuilds order without a window. All
    engine-parity string ops; no UDFs."""
    from pyspark_etl_project_spark.extensions.text import tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    toks = toks.withColumn("_n", F.size("_w"))
    # Same Arrow gram stage as duplicate_span_stats (tokens themselves
    # are still needed JVM-side below for the position explode).
    grams = (_gram_hash_frame(df, id_col, text_col, k, with_n=False)
             .localCheckpoint(eager=False))
    # Same skew-safe md5-keyed marking as duplicate_span_stats:
    # map-combined gram counts + left_semi, never a gram-partitioned
    # count window.
    dup_grams = (grams.groupBy("_gh")
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .filter(F.col("_c") >= min_count)
                 .select("_gh"))
    covered = (grams.join(dup_grams, "_gh", "left_semi")
               .select(id_col,
                       F.explode(
                           F.sequence(F.col("_start"),
                                      F.col("_start") + F.lit(k - 1)))
                       .alias("_pos"))
               .distinct())
    positions = toks.select(
        id_col, "_n",
        F.posexplode("_w").alias("_pos", "_tok"))
    kept = positions.join(covered, [id_col, "_pos"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.min("_n").alias("_n"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("_pos"), F.col("_tok")))),
                            lambda s: s["_tok"]),
                        " ").alias("clean_text"),
                    F.count(F.lit(1)).alias("_kept")))
    return (toks.select(id_col, F.col("_n").alias("_nt"))
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("clean_text"), F.lit(""))
                     .alias("clean_text"),
                    F.col("_nt").cast("int").alias("n_tokens"),
                    F.coalesce(F.col("_kept"), F.lit(0)).cast("int")
                     .alias("kept_tokens")))


def topk_neighbors(pairs: DataFrame, k: int = 3,
                   scale: int = 1_000_000) -> DataFrame:
    """Per-document k-nearest-neighbors from an undirected similarity
    pair list (id_a < id_b with inter_n/union_n, e.g. jaccard_pairs
    output): symmetrize, score by integer Jaccard ppm, keep each doc's
    top k with a deterministic (score desc, neighbor asc) tiebreak.
    The dedup-review UI shape — "show me what this doc nearly is".

    Scale: the symmetrized list is 2|pairs| rows, produced by a single
    explode (no second pass over the pair lineage); rank is one window
    shuffle on doc_id. Candidate generation upstream already bounded
    the pair count (stop-shingle cap), so no doc can drag in more than
    its candidate set. Integer ppm scoring keeps the cut exact."""
    # Symmetrize with ONE explode, not a self-union: a union replays
    # the whole candidate-generation lineage per branch (audited: 34
    # plan exchanges / 12 scans on the gated query vs 17/6 this way).
    both = F.array(
        F.struct(F.col("id_a").alias("doc_id"),
                 F.col("id_b").alias("neighbor"),
                 F.col("inter_n"), F.col("union_n")),
        F.struct(F.col("id_b").alias("doc_id"),
                 F.col("id_a").alias("neighbor"),
                 F.col("inter_n"), F.col("union_n")))
    sym = (pairs.select(F.explode(both).alias("e")).select("e.*")
           .withColumn("jaccard_ppm",
                       F.expr(f"inter_n * {scale} div union_n")))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.desc("jaccard_ppm"), F.asc("neighbor")))
    return (sym.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("doc_id", "rank", "neighbor", "jaccard_ppm"))


def weighted_sample(df: DataFrame, id_col: str, weight_ppm: Column,
                    salt: str = "wsample-v1") -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep a row iff its
    seeded md5 uniform (48 hash bits mod 1e6) falls under the row's
    integer ppm weight — the quality-proportional subsampling step of a
    curation pipeline (keep high-quality docs with probability ~1,
    low-quality with probability ~weight), reproducible across runs,
    engines and cluster sizes because there is no RNG state at all.

    ``weight_ppm`` is any integer column expression in [0, 1_000_000].
    Map-only: no shuffle, no collect; the filter composes with scan
    pushdown for any plain input columns it references. The mod-1e6
    fold of 48 uniform bits has bias < 4e-9 — far below the ppm
    resolution of the weights themselves.

    Returns the input rows that survive, plus ``weight_ppm`` and the
    drawn ``u_ppm`` (both useful for audit / inverse-propensity
    reweighting downstream)."""
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    u = (F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
         % F.lit(1_000_000)).alias("u_ppm")
    return (df.withColumn("weight_ppm", weight_ppm.cast("long"))
              .withColumn("u_ppm", u)
              .filter(F.col("u_ppm") < F.col("weight_ppm")))


def minhash_calibration(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 8, num_bands: int = 4,
                        shingle_n: int = 3) -> DataFrame:
    """Estimator-quality harness for the MinHash dedup path: for every
    LSH candidate pair, the signature-agreement estimate of Jaccard
    (matching positions / num_hashes) side-by-side with the EXACT
    shingle Jaccard, plus the integer-ppm error. This is how a curation
    run picks num_hashes/num_bands: if err_ppm is wide at the
    dedup threshold, the signature is too short for the corpus.

    One Arrow pass (_banded_batches with header rows) computes every
    doc's shingles, signature and bands — the same signature the
    production banding computes; candidates come from the banded join
    (bucket-keyed shuffle, never n²); the per-pair exact Jaccard
    intersects the two shingle ARRAYS carried into the pair row —
    array work bounded by doc shingle counts, no extra shuffle beyond
    the two signature joins. All integer outputs."""
    # The header+band frame feeds FOUR consumers (banding on both join
    # sides and both pair sides); a lazy localCheckpoint materializes
    # that pass once instead of replaying the corpus scan per consumer
    # (same posture as cross_source_overlap).
    rows = _banded_rows(df.select(F.col(id_col).alias("_id"),
                                  F.col(text_col).alias("_t")),
                        "_id", "_t", num_hashes, num_bands, shingle_n,
                        _rows_per_band(num_hashes, num_bands),
                        with_sig=True).localCheckpoint(eager=False)
    flat = (rows.filter(F.col("band_id") >= 0)
            .select("_id", "band_id", "band_hash"))
    base = rows.filter(F.col("band_id") < 0).select("_id", "_sh", "_sig")
    pairs = (flat.alias("x").join(flat.alias("y"),
                                  on=["band_id", "band_hash"])
             .filter(F.col("x._id") < F.col("y._id"))
             .groupBy(F.col("x._id").alias("id_a"),
                      F.col("y._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))
    a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"),
                    F.col("_sig").alias("_siga"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"),
                    F.col("_sig").alias("_sigb"))
    est = F.expr("aggregate(zip_with(_siga, _sigb, "
                 "(x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    inter = F.size(F.array_intersect("_sha", "_shb"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("est_matches", est)
            .withColumn("inter_n", inter)
            .withColumn("union_n",
                        F.size("_sha") + F.size("_shb") - F.col("inter_n"))
            .select("id_a", "id_b", "n_shared_bands",
                    F.col("est_matches").cast("int").alias("est_matches"),
                    F.expr(f"est_matches * 1000000 div {num_hashes}")
                     .alias("est_ppm"),
                    F.expr("inter_n * 1000000 div union_n")
                     .alias("exact_ppm"),
                    F.expr(f"abs(est_matches * 1000000 div {num_hashes}"
                           " - inter_n * 1000000 div union_n)")
                     .alias("err_ppm")))


def containment_pairs(df: DataFrame, id_col: str, shingle_col: str,
                      threshold_num: int, threshold_den: int,
                      max_doc_freq: int | None = 1000) -> DataFrame:
    """Asymmetric containment near-dup pairs: score = |A∩B| / min(|A|,
    |B|) — the measure that catches a short document quoted verbatim
    inside a long one, where symmetric Jaccard is diluted below any
    dedup threshold by the long side's size. Same inverted-index
    candidate generation and stop-shingle cap as jaccard_pairs (shuffle
    on the shingle, never n²); the containment cut is exact integer
    math against the SMALLER set size. Returns (id_a, id_b, inter_n,
    size_small, containment_ppm) with id_a < id_b. Input checkpointed
    lazily for the same multi-consumer reason as jaccard_pairs."""
    df = df.localCheckpoint(eager=False)
    sizes = df.select(F.col(id_col).alias("_id"),
                      F.size(shingle_col).alias("_sz"))
    inv = df.select(F.col(id_col).alias("_id"),
                    F.explode(shingle_col).alias("_sh"))
    if max_doc_freq is not None:
        rare = (inv.groupBy("_sh")
                   .agg(F.count(F.lit(1)).alias("_df"))
                   .filter(F.col("_df") <= max_doc_freq)
                   .select("_sh"))
        inv = inv.join(rare, "_sh")
    pairs = (inv.alias("a").join(inv.alias("b"), on="_sh")
             .filter(F.col("a._id") < F.col("b._id"))
             .groupBy(F.col("a._id").alias("id_a"),
                      F.col("b._id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("inter_n")))
    return (pairs
            .join(sizes.withColumnRenamed("_id", "id_a")
                       .withColumnRenamed("_sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed("_id", "id_b")
                       .withColumnRenamed("_sz", "sz_b"), "id_b")
            .withColumn("size_small", F.least("sz_a", "sz_b"))
            .filter(F.col("inter_n") * threshold_den
                    >= F.col("size_small") * threshold_num)
            .select("id_a", "id_b", "inter_n", "size_small",
                    F.expr("inter_n * 1000000 div size_small")
                     .alias("containment_ppm")))


def survivorship_merge(df: DataFrame, id_col: str, text_col: str,
                       source_col: str, quality_col: str) -> DataFrame:
    """Dedup with survivorship: one keeper per exact content
    fingerprint — highest ``quality_col`` then lowest id (NOT blind
    min-id: the best copy survives) — carrying merged provenance from
    every dropped duplicate (distinct sources as a sorted CSV, copy
    count, max quality). Curation pipelines need the merge, not just
    the drop: a doc found by 5 crawls is evidence of importance, and
    dropping 4 rows silently loses that signal.

    Two fingerprint-keyed exchanges — one per branch (the keeper
    window and the provenance aggregate project different columns, so
    Spark cannot reuse a single exchange) — but both partition on
    ``_fp``, so the final keeper-provenance join adds NO third
    shuffle, and the aggregate branch moves only map-side partials."""
    from pyspark_etl_project_spark.extensions.text import (
        normalized_fingerprint)

    fp = df.withColumn("_fp", normalized_fingerprint(F.col(text_col)))
    w = (Window.partitionBy("_fp")
         .orderBy(F.desc(quality_col), F.asc(id_col)))
    keep = (fp.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .select(F.col("_fp"), F.col(id_col).alias("keep_id")))
    prov = (fp.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.array_join(F.array_sort(
                     F.collect_set(F.col(source_col))), ",")
                  .alias("sources_csv"),
                 F.max(quality_col).alias("max_quality")))
    return (keep.join(prov, "_fp")
            .select("keep_id", "n_copies", "sources_csv", "max_quality"))
