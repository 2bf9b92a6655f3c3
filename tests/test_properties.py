"""Property-based checks (SURVEY.md §5.3): generator-driven invariants
for the normalization expressions and core operators, mirroring the
reference generators' fuzz role (null injection, update re-emission)
with explicit properties instead of operational luck.

Examples are kept small and few (each drives a real Spark job); the
properties, not the volume, carry the coverage.
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = settings(max_examples=10, deadline=None)

# Values free of the fingerprint's two ambiguity sources: the 'NULL'
# coalesce token and the '||' separator (both faithful reproductions of
# reference H1 semantics — collisions there are collisions here).
_safe_text = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=0x7F),
    min_size=0, max_size=8).filter(lambda s: s != "NULL")


@_SETTINGS
@given(st.lists(
    st.tuples(st.integers(0, 99), st.integers(0, 99), st.integers(0, 99)),
    min_size=1, max_size=20),
    st.lists(st.sampled_from(["", "1:2", "x:y:z", "1:2:3:4", " 1:2:3",
                              "10:xx:30", "::", "5", "1:2:"]),
             min_size=0, max_size=5))
def test_duration_parser_matches_model(spark, triples, garbage):
    from pyspark_etl_project_spark.functions.normalize import duration_to_seconds

    strs = [f"{h}:{m}:{s}" for h, m, s in triples] + garbage

    def model(x: str):
        if re.fullmatch(r"\d+:\d{1,2}:\d{1,2}", x):
            h, m, s = (int(p) for p in x.split(":"))
            return h * 3600 + m * 60 + s
        return None

    df = spark.createDataFrame([(x,) for x in strs], "d string")
    got = [r["out"] for r in
           df.select(duration_to_seconds("d").alias("out")).collect()]
    assert got == [model(x) for x in strs]


@_SETTINGS
@given(st.lists(st.tuples(_safe_text | st.none(), st.integers(0, 9) | st.none()),
                min_size=1, max_size=15))
def test_fingerprint_stable_and_sensitive(spark, rows):
    from pyspark_etl_project_spark.functions.hashing import row_fingerprint

    df = spark.createDataFrame(rows, "a string, b int")
    fp = row_fingerprint(["a", "b"])
    hashed = df.select("a", "b", fp.alias("h")).collect()
    # stability: equal (a, b) tuples always hash identically
    seen: dict[tuple, str] = {}
    for r in hashed:
        key = (r["a"], r["b"])
        assert seen.setdefault(key, r["h"]) == r["h"]
    # sensitivity: distinct tuples never collide (md5 over an injective
    # encoding, given the alphabet excludes the separator and null token)
    by_hash: dict[str, tuple] = {}
    for key, h in seen.items():
        assert by_hash.setdefault(h, key) == key


@_SETTINGS
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 50), st.integers(0, 9)),
                min_size=1, max_size=30, unique_by=lambda t: (t[0], t[1])))
def test_keep_latest_exactly_one_max_row_per_key(spark, rows):
    from pyspark_etl_project_spark.operators.dedup import keep_latest

    df = spark.createDataFrame(rows, "k int, ord int, v int")
    expect = {}
    for k, o, v in rows:
        if k not in expect or o > expect[k][0]:
            expect[k] = (o, v)
    for use_max_by in (False, True):
        got = {r["k"]: (r["ord"], r["v"]) for r in
               keep_latest(df, "k", "ord", use_max_by=use_max_by).collect()}
        assert got == expect


@_SETTINGS
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 3)),
                min_size=1, max_size=20, unique_by=lambda t: t[0]),
       st.lists(st.tuples(st.integers(0, 30), st.integers(0, 3)),
                min_size=0, max_size=20, unique_by=lambda t: t[0]))
def test_cdc_router_classes_partition_the_batch(spark, batch_rows, hist_rows):
    from pyspark_etl_project_spark.operators.cdc import cdc_classify

    batch = spark.createDataFrame(
        [(f"k{k}", f"h{h}") for k, h in batch_rows],
        "SOURCE_SYSTEM_IDENTIFIER string, SOURCE_HASH_KEY string")
    hist = spark.createDataFrame(
        [(f"k{k}", f"h{h}") for k, h in hist_rows],
        "HISTORIC_SSI string, HISTORIC_HASHKEY string") if hist_rows else \
        spark.createDataFrame([], "HISTORIC_SSI string, HISTORIC_HASHKEY string")
    routed = cdc_classify(batch, hist, drop_duplicates=False).collect()
    hist_map = {f"k{k}": f"h{h}" for k, h in hist_rows}
    assert len(routed) == len(batch_rows)  # classes partition the batch
    for r in routed:
        k, h, grp = (r["SOURCE_SYSTEM_IDENTIFIER"], r["SOURCE_HASH_KEY"],
                     r["ROUTER_GROUP"])
        if k not in hist_map:
            assert grp == "INSERT"
        elif hist_map[k] == h:
            assert grp == "DUPLICATE"
        else:
            assert grp == "UPDATE"


@given(st.lists(st.integers(min_value=0, max_value=10_000),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=0, max_value=100))
@settings(max_examples=10, deadline=None)
def test_stratified_sample_append_stable(spark, ids, en_rate):
    """sample(A ∪ B) == sample(A) ∪ sample(B): the md5 decision is a pure
    function of the id, so incremental appends never resample old rows."""
    from pyspark_etl_project_spark.extensions.dedup import stratified_sample

    rows = [(i, "en" if i % 2 else "de") for i in ids]
    half = len(rows) // 2
    mk = lambda rs: spark.createDataFrame(rs, "id long, lang string")  # noqa: E731
    rates = {"en": en_rate, "de": 100}

    whole = {r["id"] for r in
             stratified_sample(mk(rows), "id", "lang", rates).collect()}
    parts = {r["id"] for r in
             stratified_sample(mk(rows[:half]), "id", "lang", rates).collect()} | \
            {r["id"] for r in
             stratified_sample(mk(rows[half:]), "id", "lang", rates).collect()} \
        if half else whole
    assert whole == parts
    # every 'de' row survives at rate 100
    assert {i for i, lang in rows if lang == "de"} <= whole


@given(st.lists(st.lists(st.sampled_from(list("abcdefg")),
                         min_size=1, max_size=5, unique=True),
                min_size=2, max_size=12),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=10, deadline=None)
def test_jaccard_df_cap_sound(spark, shingle_sets, cap):
    """Capped candidate pairs are a subset of uncapped pairs, and with a
    cap >= ndocs the results are identical (the ceiling only ever drops
    pairs, never invents or rescores them incorrectly)."""
    from pyspark_etl_project_spark.extensions.dedup import jaccard_pairs

    rows = [(i, [f"s{c}" for c in ss]) for i, ss in enumerate(shingle_sets)]
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")

    uncapped = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
                for r in jaccard_pairs(df, "doc_id", "sh", 1, 10,
                                       max_doc_freq=None).collect()}
    capped = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
              for r in jaccard_pairs(df, "doc_id", "sh", 1, 10,
                                     max_doc_freq=cap).collect()}
    assert set(capped) <= set(uncapped)
    full = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
            for r in jaccard_pairs(df, "doc_id", "sh", 1, 10,
                                   max_doc_freq=len(rows)).collect()}
    assert full == uncapped


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30),
                min_size=2, max_size=16),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=10, deadline=None)
def test_levenshtein_block_cap_sound(spark, texts, cap):
    """The per-block ceiling only ever DROPS candidate pairs — capped
    output is a subset of uncapped with identical distances — and a cap
    >= ndocs (no block can exceed it) changes nothing. This is the bound
    that keeps the within-block self-join from going quadratic when a
    fixed-cardinality block key meets a growing corpus."""
    from pyspark_etl_project_spark.extensions.dedup import levenshtein_candidates

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap_val):
        return {(r["id_a"], r["id_b"]): r["edit_dist"]
                for r in levenshtein_candidates(
                    df, "doc_id", "text", max_block_size=cap_val).collect()}

    uncapped = pairs(None)
    capped = pairs(cap)
    assert set(capped) <= set(uncapped)
    assert all(uncapped[k] == v for k, v in capped.items())
    assert pairs(len(rows)) == uncapped


@given(st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=1, max_size=60),
       st.integers(min_value=1, max_value=8),
       st.integers(min_value=1, max_value=8))
@settings(max_examples=10, deadline=None)
def test_chunk_tokens_count_formula(spark, toks, window, stride):
    """Chunk starts are 0, stride, 2*stride ... < n, so chunk i holds
    exactly min(window, n - i*stride) tokens and there are
    ceil(n/stride) chunks — checked against the Spark output for random
    token streams and window/stride combinations."""
    from pyspark_etl_project_spark.extensions.text import chunk_tokens

    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = {r["chunk_idx"]: r["n_tokens"]
           for r in chunk_tokens(df, "doc_id", "text",
                                 window=window, stride=stride).collect()}
    n = len(toks)
    expect = {i: min(window, n - i * stride)
              for i in range((n + stride - 1) // stride)}
    assert out == expect


@given(st.lists(st.integers(min_value=0, max_value=700),
                min_size=1, max_size=30),
       st.integers(min_value=16, max_value=512))
@settings(max_examples=10, deadline=None)
def test_pack_documents_matches_sequential_packing(spark, sizes, budget):
    """The windowed bin assignment must equal a sequential driver-side
    recomputation: pre-sum in id order, bin = pre // budget, offset =
    pre % budget — for arbitrary token counts and budgets."""
    from pyspark_etl_project_spark.extensions.text import pack_documents

    rows = [(i, "g", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n int")
    got = {r["doc_id"]: (r["bin_id"], r["bin_offset"])
           for r in pack_documents(df, "doc_id", "n", "grp",
                                   budget=budget).collect()}
    pre = 0
    expect = {}
    for i, s in enumerate(sizes):
        expect[i] = (pre // budget, pre % budget)
        pre += s
    assert got == expect


@given(st.lists(st.integers(min_value=0, max_value=500),
                min_size=1, max_size=40, unique=True),
       st.integers(min_value=1, max_value=5))
@settings(max_examples=10, deadline=None)
def test_quota_sample_cap_and_append_stability(spark, ids, cap):
    """No group ever exceeds the cap, and appending new rows can only
    EVICT old survivors (when a new row hashes ahead), never admit a row
    that lost before — the incremental-append contract."""
    from pyspark_etl_project_spark.extensions.dedup import quota_sample

    rows = [(i, f"g{i % 3}") for i in ids]
    half = max(1, len(rows) // 2)
    mk = lambda rs: spark.createDataFrame(rs, "id long, grp string")  # noqa: E731

    whole = quota_sample(mk(rows), "id", ["grp"], cap).collect()
    per_group: dict[str, int] = {}
    for r in whole:
        per_group[r["grp"]] = per_group.get(r["grp"], 0) + 1
        assert 1 <= r["rn"] <= cap
    assert all(n <= cap for n in per_group.values())

    first = {r["id"] for r in
             quota_sample(mk(rows[:half]), "id", ["grp"], cap).collect()}
    whole_ids = {r["id"] for r in whole}
    new_ids = {i for i, _ in rows[half:]}
    # survivors of the full run that existed in the first batch must have
    # survived the first batch too (append can evict, never resurrect)
    assert (whole_ids - new_ids) <= first


def test_zorder_interleave_known_values(spark):
    """Bit-exact Morton interleave: hand-computed values, plus the
    locality property that zval >> (2*bits - 2) recovers the top-bit
    quadrant of both dimensions."""
    from pyspark_etl_project_spark.extensions.layout import zorder_value

    # x=0b011 (3), y=0b101 (5), 3 bits: z bits (y2 x2 y1 x1 y0 x0)
    #  = (1 0 0 1 1 1) = 0b100111 = 39
    df = spark.createDataFrame([(3, 5)], "x long, y long")
    out = df.select(zorder_value(["x", "y"], bits=3).alias("z")).collect()
    assert out[0]["z"] == 39

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y",
                     zorder_value(["x", "y"], bits=3).alias("z")).collect()
    for r in rows:
        quadrant = r["z"] >> 4
        assert quadrant == ((r["y"] >> 2) << 1 | (r["x"] >> 2))
        # interleave is a bijection on the masked domain
    assert len({r["z"] for r in rows}) == len(pts)


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=50),
                          st.sampled_from(["a", "b", "c"]),
                          st.integers(min_value=-100, max_value=100)),
                min_size=1, max_size=30),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=10, deadline=None)
def test_incremental_agg_merge_batching_insensitive(spark, rows, n_batches):
    """Folding partials batch-by-batch equals the one-shot GROUP BY for
    ANY batch split — the decomposability contract that makes replays
    and backfills safe."""
    from pyspark_etl_project_spark.operators.incremental import (
        merge_agg_state, partial_agg)

    metrics = {"n": ("count", "id"), "s": ("sum", "v"),
               "mn": ("min", "v"), "mx": ("max", "v")}
    df = spark.createDataFrame(rows, "id long, k string, v long")
    want = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
            for r in partial_agg(df, ["k"], metrics).collect()}

    batches = [df.filter(F.col("id") % n_batches == i)
               for i in range(n_batches)]
    state = partial_agg(batches[0], ["k"], metrics)
    for b in batches[1:]:
        state = merge_agg_state(state, partial_agg(b, ["k"], metrics),
                                ["k"], metrics)
    got = {r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
           for r in state.collect()}
    assert got == want


@given(st.lists(st.sampled_from(["a", "bb", "ccc", "dd"]),
                min_size=0, max_size=12),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=20, deadline=None)
def test_ngram_array_matches_python_model(spark, toks, n):
    """The zip_with n-gram construction must equal the obvious Python
    sliding window for every token list and n (including shorter-than-n
    inputs -> empty)."""
    from pyspark_etl_project_spark.extensions.text import word_ngrams

    text = " ".join(toks)
    got = (spark.createDataFrame([(text,)], "text string")
           .select(word_ngrams("text", n).alias("g")).first()["g"])
    # Empty tokens filtered: contentless text has ZERO tokens (and so
    # zero n-grams) — re.split of '' yields [''], the phantom token
    # tokens() now drops engine-side.
    model_toks = [t for t in re.split(r"\s+", text.strip()) if t]
    want = [" ".join(model_toks[i:i + n])
            for i in range(len(model_toks) - n + 1)] \
        if len(model_toks) >= n else []
    assert list(got) == want


@given(st.lists(st.tuples(st.integers(min_value=-10_000, max_value=10_000)),
                min_size=1, max_size=60),
       st.integers(min_value=1, max_value=7),
       st.integers(min_value=2, max_value=8))
@settings(max_examples=15, deadline=None)
def test_partial_column_stats_merge_equals_direct(spark, vals, n_parts, k):
    """Write-time stats partials merged over ANY partitioning equal the
    direct full-scan stats bit-for-bit — including the KMV estimate
    (k-min associativity) and for negative values (min/max ordering)
    and tiny k (exact-fallback boundary)."""
    from pyspark_etl_project_spark.operators.stats import (
        column_stats_direct, column_stats_merge, column_stats_partials)

    rows = [(i, v[0]) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    scalar, hashes = column_stats_partials(df, F.col("id") % n_parts,
                                           F.col("v"), k=k)
    merged = column_stats_merge(scalar, hashes, k=k).collect()[0]
    direct = column_stats_direct(df, F.col("v"), k=k).collect()[0]
    for f in ("n_rows", "n_nulls", "min_v", "max_v", "est_ndv"):
        assert merged[f] == direct[f], (f, merged[f], direct[f])
    if direct["exact_ndv"] < k:
        assert merged["est_ndv"] == direct["exact_ndv"]


@_SETTINGS
@given(st.lists(
    st.tuples(st.integers(0, 5),       # key (few distinct -> many dups)
              st.integers(0, 3),       # ord1 (ties likely)
              st.integers(0, 1000),    # ord2 (tiebreaker, may still tie)
              st.integers(0, 9)),      # payload
    min_size=1, max_size=30),
    st.booleans())
def test_keep_latest_arms_agree(spark, rows, descending):
    """The window arm and the max_by arm of keep-latest dedup are two
    physical plans of ONE operator (reference E1): for any input whose
    (key, ordering) is unique per survivor they must pick identical
    rows, and when the full ordering ties the survivor sets must still
    agree on the ordering columns (both arms pick SOME extremal row).
    Covers BOTH directions — descending=False is the keep-earliest arm
    (window asc vs min_by), which no registered query exercises.
    Guards the skew arm against drifting from the gate-verified window
    arm between rounds."""
    from pyspark_etl_project_spark.operators.dedup import keep_latest

    df = spark.createDataFrame(rows, "k int, o1 int, o2 int, v int")
    win = keep_latest(df, keys="k", order_by=["o1", "o2"],
                      descending=descending).collect()
    mb = keep_latest(df, keys="k", order_by=["o1", "o2"],
                     descending=descending, use_max_by=True).collect()
    assert len(win) == len(mb)
    win_by_k = {r["k"]: r for r in win}
    mb_by_k = {r["k"]: r for r in mb}
    assert win_by_k.keys() == mb_by_k.keys()
    for k in win_by_k:
        w, m = win_by_k[k], mb_by_k[k]
        # Ordering columns must agree always (the maximal ordering is
        # unique even when several rows share it).
        assert (w["o1"], w["o2"]) == (m["o1"], m["o2"])
        # With a unique maximal row the payload must match too.
        dup_max = sum(1 for r in rows
                      if r[0] == k and (r[1], r[2]) == (w["o1"], w["o2"]))
        if dup_max == 1:
            assert w["v"] == m["v"]


_PART_VALS = st.sampled_from([None, "", "a:b", "0123", "1e2", "a b",
                              "x%25y", "a=b", "tail.", "UPPER", "123"])


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(_PART_VALS, st.sampled_from([0, 1, 2, 3])),
                min_size=1, max_size=12))
# Round-12 regression pin (the local hypothesis DB is gitignored, so
# the found example must ride with the test): a mart whose EVERY dir
# is the NULL sentinel read back as a VOID-typed partition column
# under plain discovery, and the rewrite's partitionBy refuses VOID —
# fixed by the vacuum read's pinned string schema.
@example(rows=[(None, 1)])
# NULL-END rows drop like expired ones, and a leaf holding them
# classifies touched (mixed with a survivor) or dead (alone).
@example(rows=[("A", 3), ("A", 2), ("B", 3)])
def test_vacuum_mart_path_matches_filter_model(spark, rows):
    """The DESTRUCTIVE retention pass equals the pure filter model for
    any mix of partition values (Hive escapables, numeric-looking
    strings whose dirs must not be inference-renamed, NULL/empty) and
    expiry classes: read-back after vacuum_mart_path == rows with
    END_DATE >= horizon, with partition values round-tripped verbatim
    (modulo Spark's own NULL/'' -> default-partition merge, which the
    model normalizes the same way)."""
    import os
    import shutil
    import tempfile

    from hypothesis import assume

    from pyspark_etl_project_spark.operators.scd2 import (
        read_mart, vacuum_mart_path, write_mart)

    # The all-expired mart is the documented refusal case, not a vacuum.
    assume(any(e in (1, 2) for _, e in rows))
    ends = {0: "2020-06-01 00:00:00",   # expired before horizon
            1: "2024-01-01 00:00:00",   # closed after horizon: survives
            2: "2099-12-31 00:00:00",   # open: survives
            3: None}                    # NULL END: dropped like expired
    data = [(i, f"K-{i}", v, ends[e]) for i, (v, e) in enumerate(rows)]
    mart = spark.createDataFrame(
        data, "csd_id long, ssi string, SOURCE string, END_DATE string") \
        .withColumn("START_DATE",
                    F.lit("2020-01-01 00:00:00").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    work = tempfile.mkdtemp(prefix="vac_prop_")
    try:
        path = os.path.join(work, "mart")
        write_mart(mart, path, partition_col="SOURCE", key="ssi",
                   num_buckets=4)
        vacuum_mart_path(spark, path, "2023-01-01 00:00:00",
                         partition_col="SOURCE", key="ssi", num_buckets=4)
        # Read back with partition type inference OFF: fidelity is
        # checked against the on-disk dir VALUES (inference would
        # re-type '0123' to 123 on read — the reader's lossiness, not
        # the vacuum's — and refuses a NullType partition column when
        # every surviving dir is the NULL sentinel).
        infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
        old = spark.conf.get(infer, "true")
        spark.conf.set(infer, "false")
        try:
            got = {(r["csd_id"], r["SOURCE"])
                   for r in read_mart(spark, path).collect()}
        finally:
            spark.conf.set(infer, old)
        want = {(i, (None if v in (None, "") else v))
                for i, (v, e) in enumerate(rows) if e in (1, 2)}
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


_BAND_TOKENS = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 7),
                          st.lists(_BAND_TOKENS, min_size=3, max_size=6)),
                min_size=1, max_size=12),
       st.integers(1, 4))
def test_band_index_batching_insensitive(spark, rows, n_batches):
    """The persistent band index is BATCHING-INSENSITIVE: feeding the
    doc stream in any number of micro-batches leaves exactly the same
    (doc_id, band_id, band_hash) rows on disk as one batch over the
    FIRST occurrence of every doc_id — the doc-level redelivery guard
    skips later occurrences whole (streaming/ingest.py:
    band_index_batch), so no batch boundary can duplicate or drop an
    index row. This is the on-disk analogue of
    test_incremental_agg_merge_batching_insensitive."""
    import os
    import shutil
    import tempfile

    from pyspark_etl_project_spark.streaming.ingest import band_index_batch

    def mk_batch(pairs):
        return spark.createDataFrame(
            [(int(d), " ".join(toks)) for d, toks in pairs],
            "doc_id long, text string")

    def read_index(path):
        return {(r["doc_id"], r["band_id"], r["band_hash"])
                for r in spark.read.parquet(path)
                .select("doc_id", "band_id", "band_hash").collect()}

    # Contiguous chunks; per-batch doc_ids deduped to first occurrence
    # (stream micro-batches carry one row per doc — the cross-BATCH
    # repeat is the redelivery case under test).
    size = max(1, -(-len(rows) // n_batches))
    chunks = []
    for i in range(0, len(rows), size):
        seen, chunk = set(), []
        for d, toks in rows[i:i + size]:
            if d not in seen:
                seen.add(d)
                chunk.append((d, toks))
        chunks.append(chunk)
    firsts, seen = [], set()
    for d, toks in rows:
        if d not in seen:
            seen.add(d)
            firsts.append((d, toks))

    work = tempfile.mkdtemp(prefix="band_prop_")
    try:
        inc_path = os.path.join(work, "inc")
        for chunk in chunks:
            band_index_batch(mk_batch(chunk), inc_path)
        one_path = os.path.join(work, "one")
        band_index_batch(mk_batch(firsts), one_path)
        assert read_index(inc_path) == read_index(one_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 7),
                          st.lists(_BAND_TOKENS, min_size=3, max_size=6),
                          st.booleans()),
                min_size=1, max_size=8))
def test_band_index_compaction_anywhere_preserves_rows(spark, rows):
    """compact_band_index is row-invariant at ANY point in the batch
    sequence: interleaving per-batch appends with hypothesis-chosen
    compaction sweeps leaves exactly the index rows of the
    never-compacted run — only file boundaries may move, and the
    post-fold index keeps accepting appends with the redelivery guard
    intact (a later duplicate doc_id still appends nothing)."""
    import os
    import shutil
    import tempfile

    from pyspark_etl_project_spark.streaming.ingest import (
        band_index_batch, compact_band_index)

    def read_index(path):
        return {(r["doc_id"], r["band_id"], r["band_hash"])
                for r in spark.read.parquet(path)
                .select("doc_id", "band_id", "band_hash").collect()}

    work = tempfile.mkdtemp(prefix="bandfold_prop_")
    try:
        inc = os.path.join(work, "inc")
        plain = os.path.join(work, "plain")
        for d, toks, fold in rows:
            batch = spark.createDataFrame([(int(d), " ".join(toks))],
                                          "doc_id long, text string")
            band_index_batch(batch, inc)
            band_index_batch(batch, plain)
            if fold:
                compact_band_index(spark, inc)
        assert read_index(inc) == read_index(plain)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.lists(_BAND_TOKENS, min_size=3, max_size=8),
                          st.booleans()),
                min_size=1, max_size=8))
def test_kmv_store_fold_anywhere_preserves_estimator(spark, batches):
    """The KMV store's estimator input — the k smallest DISTINCT
    hashes — is invariant under ANY interleaving of appends and folds:
    for every batch sequence with compact_kmv_store called after an
    arbitrary subset of batches, the final k-minimum set equals the
    one-shot batch over all documents (min-k associativity, the
    invariant the fold's losslessness claim rests on; k=8 so folds
    actually cut rows). Generalizes the fixed two-batch invariant
    test to hypothesis-chosen fold points."""
    import os
    import shutil
    import tempfile

    from pyspark_etl_project_spark.streaming.ingest import (
        compact_kmv_store, kmv_batch)

    K = 8

    def kmin(path):
        return [r["h"] for r in
                (spark.read.parquet(path).select("h").distinct()
                 .orderBy("h").limit(K).collect())]

    work = tempfile.mkdtemp(prefix="kmv_prop_")
    try:
        inc = os.path.join(work, "inc")
        for toks, fold in batches:
            kmv_batch(spark.createDataFrame([(" ".join(toks),)],
                                            "text string"),
                      inc, k=K)
            if fold:
                assert compact_kmv_store(spark, inc, k=K) == 1
        one = os.path.join(work, "one")
        kmv_batch(spark.createDataFrame(
            [(" ".join(toks),) for toks, _ in batches], "text string"),
            one, k=K)
        assert kmin(inc) == kmin(one)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_MERGE_KEYS = st.sampled_from([None, "a", "b", "c", "d"])


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(_MERGE_KEYS, st.sampled_from([0, 1, None])),
                max_size=10),
       st.lists(_MERGE_KEYS, max_size=6))
def test_scd2_merge_matches_model(spark, mart_rows, arrival_keys):
    """The flagship custom operator equals the pure SCD2 model
    (reference semantics, /root/reference/ETL/CSV_Batch_Processing.py:
    247-334) for any mix of: NULL natural keys (SQL join semantics —
    a NULL-key active row never expires and a NULL-key arrival always
    inserts), NULL ACTIVE_FLAG (legacy rows route to the inactive
    branch VERBATIM — the eqNullSafe split), several active versions
    of one key (all expire together), arrivals hitting only-inactive
    keys (plain insert), and the empty mart. Both surrogate arms
    (monotonic and dense) must agree on the business columns, and
    fresh surrogates must be distinct and above the mart's high
    water."""
    from pyspark_etl_project_spark.config import SCD2_OPEN_END_DATE
    from pyspark_etl_project_spark.operators.scd2 import scd2_merge

    RUN = "2024-06-01 00:00:00"
    OLD_START, OLD_END = "2020-01-01 00:00:00", "2021-01-01 00:00:00"

    mart = spark.createDataFrame(
        [(i + 1, k, i * 10, f, OLD_START, OLD_END)
         for i, (k, f) in enumerate(mart_rows)],
        "CSD_ID long, ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))
    # Arrivals carry the mart columns minus the surrogate; the merge
    # overwrites flag/stamps itself, so the inbound values are dummies.
    arrivals = spark.createDataFrame(
        [(k, 1000 + j, 9, OLD_START, OLD_START)
         for j, k in enumerate(arrival_keys)],
        "ssi string, v long, ACTIVE_FLAG int, "
        "START_DATE string, END_DATE string") \
        .withColumn("START_DATE", F.col("START_DATE").cast("timestamp")) \
        .withColumn("END_DATE", F.col("END_DATE").cast("timestamp"))

    arriving = {k for k in arrival_keys if k is not None}
    model = []
    for i, (k, f) in enumerate(mart_rows):
        if f == 1:
            if k is not None and k in arriving:
                model.append((k, i * 10, 0, OLD_START, RUN))
            else:
                model.append((k, i * 10, 1, OLD_START, OLD_END))
        else:  # 0 or NULL flag: inactive branch, preserved verbatim
            model.append((k, i * 10, f, OLD_START, OLD_END))
    for j, k in enumerate(arrival_keys):
        model.append((k, 1000 + j, 1, RUN, SCD2_OPEN_END_DATE))
    want = sorted(model, key=repr)

    mart_ids = {i + 1 for i in range(len(mart_rows))}
    for dense in (False, True):
        got = scd2_merge(mart, arrivals, RUN, key="ssi",
                         dense_ids=dense).collect()
        biz = sorted(((r["ssi"], r["v"], r["ACTIVE_FLAG"],
                       str(r["START_DATE"]), str(r["END_DATE"]))
                      for r in got), key=repr)
        assert biz == want, f"dense={dense}"
        fresh_ids = [r["CSD_ID"] for r in got
                     if str(r["START_DATE"]) == RUN
                     and r["ACTIVE_FLAG"] == 1 and r["v"] >= 1000]
        assert len(fresh_ids) == len(set(fresh_ids)) == len(arrival_keys)
        assert all(x is not None and x not in mart_ids for x in fresh_ids)


_CDC_KEYS = st.sampled_from([None, "a", "b", "c"])
_CDC_HASHES = st.sampled_from([None, "h1", "h2"])


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(_CDC_KEYS, _CDC_HASHES), max_size=8),
       st.lists(st.tuples(_CDC_KEYS, _CDC_HASHES), max_size=6))
def test_cdc_classify_matches_model(spark, batch_rows, hist_rows):
    """The CDC router equals the pure model (reference C1-C3+B5,
    /root/reference/ETL/CSV_Batch_Processing.py:150-162) for any mix
    of: NULL natural keys (SQL join semantics — a NULL-key batch row
    NEVER matches, even a NULL-key historic row, so it routes INSERT),
    NULL hashes on either or both sides (NULL<=>NULL is DUPLICATE —
    the eqNullSafe pin; one-sided NULL is UPDATE), duplicate keys in
    the historic slice (join multiplicity: one routed row per match),
    and empty batch/historic. Both join strategies (broadcast and
    shuffled) and both drop_duplicates arms must agree with the
    model."""
    from pyspark_etl_project_spark.operators.cdc import (
        DUPLICATE, INSERT, ROUTER_COL, UPDATE, cdc_classify)

    batch = spark.createDataFrame(
        batch_rows,
        "SOURCE_SYSTEM_IDENTIFIER string, SOURCE_HASH_KEY string")
    hist = spark.createDataFrame(
        hist_rows, "HISTORIC_SSI string, HISTORIC_HASHKEY string")

    def model(drop):
        out = []
        for k, h in batch_rows:
            matches = [(hk, hh) for hk, hh in hist_rows
                       if k is not None and hk == k]
            if not matches:
                out.append((k, h, None, None, INSERT))
                continue
            for hk, hh in matches:
                tag = DUPLICATE if h == hh else UPDATE
                if not (drop and tag == DUPLICATE):
                    out.append((k, h, hk, hh, tag))
        return sorted(out, key=repr)

    for drop in (False, True):
        for bc in (True, False):
            got = cdc_classify(batch, hist, broadcast_historic=bc,
                               drop_duplicates=drop).collect()
            rows = sorted(((r["SOURCE_SYSTEM_IDENTIFIER"],
                            r["SOURCE_HASH_KEY"], r["HISTORIC_SSI"],
                            r["HISTORIC_HASHKEY"], r[ROUTER_COL])
                           for r in got), key=repr)
            assert rows == model(drop), f"drop={drop} broadcast={bc}"


_WIDEN_POOL = ["tinyint", "smallint", "int", "bigint", "float",
               "double", "string", "timestamp", "struct<a:int>"]


@settings(max_examples=200, deadline=None)
@given(st.sets(st.sampled_from(_WIDEN_POOL), min_size=1, max_size=5),
       st.sets(st.sampled_from(_WIDEN_POOL), min_size=1, max_size=5))
def test_widen_simple_types_lattice(types_a, types_b):
    """The vacuum heal's widening lattice (operators/scd2.py) is a
    sound partial join: a singleton widens to itself; a defined result
    can REPRESENT every input (integral rank never decreases, floats
    only go to double, and no integral above int ever mixes into a
    floating result — the reader-verified boundary); and it composes —
    widening incrementally (as footer batches would arrive) agrees
    with widening the union whenever the union is defined."""
    from pyspark_etl_project_spark.operators.scd2 import (
        _INTEGRALS, _widen_simple_types)

    def rank(t):
        return _INTEGRALS.index(t) if t in _INTEGRALS else None

    for s in (types_a, types_b, types_a | types_b):
        w = _widen_simple_types(set(s))
        if len(s) == 1:
            assert w == next(iter(s))
        if w is None:
            continue
        assert w in s or w in ("bigint", "int", "smallint", "double")
        for t in s:
            if t in _INTEGRALS:
                if w in _INTEGRALS:
                    assert rank(w) >= rank(t)
                else:
                    # floating result: only int-or-narrower may widen
                    # (bigint->double is not reader-supported)
                    assert w == "double" and rank(t) <= rank("int")
            elif t in ("float", "double"):
                assert w in ("float", "double") and not (
                    t == "double" and w == "float")
            else:
                assert w == t  # non-numeric only via singleton

    union = _widen_simple_types(types_a | types_b)
    wa = _widen_simple_types(types_a)
    wb = _widen_simple_types(types_b)
    if union is not None:
        assert wa is not None and wb is not None
        assert _widen_simple_types({wa, wb}) == union


_SEG_POOL = st.sampled_from([None, "", "0123", "a:b", "s1"])


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 5), _SEG_POOL, st.booleans(),
                          st.integers(0, 1)),
                min_size=1, max_size=8))
def test_vacuum_heal_matches_model(spark, rows):
    """vacuum_mart_path equals the pure retention model for any mix
    of: partition values needing verbatim round-trip (NULL and ''
    both land in the Hive NULL-sentinel dir; '0123' must not re-type;
    'a:b' is %-escaped on disk), TWO loads of different csd_id width
    (int then long — surviving mixed-vintage files force the widening
    heal), dynamic-overwrite collisions between the loads (load 2
    replaces exactly the (seg, bucket) partitions it produces), and
    arbitrary expiry — including the all-expired case, which must
    REFUSE rather than delete the mart. The model is plain Python;
    bucket ids come from one small Spark job so the overwrite is
    modeled exactly."""
    import shutil
    import tempfile

    import pytest

    from pyspark_etl_project_spark.operators.scd2 import (
        MART_BUCKET_COL, _vacuum_schema, mart_bucket, vacuum_mart_path,
        write_mart)

    HORIZON = "2023-01-01 00:00:00"
    EXPIRED, OPEN = "2020-06-01 00:00:00", "2099-12-31 00:00:00"

    loads = {0: [], 1: []}
    for idx, (kid, seg, expired, load) in enumerate(rows):
        csd = idx if load == 0 else idx + 2 ** 40
        loads[load].append((csd, f"K-{kid}", seg, expired))

    def frame(recs, id_type):
        return (spark.createDataFrame(
            [(c, k, s, EXPIRED if e else OPEN) for c, k, s, e in recs],
            f"csd_id {id_type}, ssi string, seg string, END_DATE string")
            .withColumn("START_DATE",
                        F.lit("2020-01-01 00:00:00").cast("timestamp"))
            .withColumn("END_DATE", F.col("END_DATE").cast("timestamp")))

    # Bucket ids via Spark (xxhash64 is not re-implemented in Python).
    keys = sorted({r[1] for load_recs in loads.values()
                   for r in load_recs})
    bmap = {r["ssi"]: r["b"] for r in
            spark.createDataFrame([(k,) for k in keys], "ssi string")
            .select("ssi", mart_bucket("ssi", 4).alias("b")).collect()}

    def norm(seg):  # NULL and '' share the Hive sentinel dir
        return None if seg in (None, "") else seg

    work = tempfile.mkdtemp(prefix="vac_model_")
    try:
        path = work + "/mart"
        for load in (0, 1):
            if loads[load]:
                write_mart(frame(loads[load],
                                 "int" if load == 0 else "long"),
                           path, partition_col="seg", key="ssi",
                           num_buckets=4)
        # Dynamic overwrite: load 1 replaced exactly the (seg, bucket)
        # partitions it produced.
        l1_parts = {(norm(s), bmap[k]) for _, k, s, _ in loads[1]}
        alive = loads[1] + ([r for r in loads[0]
                             if (norm(r[2]), bmap[r[1]]) not in l1_parts]
                            if loads[1] else loads[0])
        survivors = {(c, k, norm(s)) for c, k, s, e in alive if not e}

        if not survivors:
            with pytest.raises(ValueError, match="refusing to vacuum"):
                vacuum_mart_path(spark, path, HORIZON,
                                 partition_col="seg", key="ssi",
                                 num_buckets=4)
            return
        vacuum_mart_path(spark, path, HORIZON, partition_col="seg",
                         key="ssi", num_buckets=4)
        schema = _vacuum_schema(spark, path, ["seg", MART_BUCKET_COL])
        back = {(int(r["csd_id"]), r["ssi"], r["seg"]) for r in
                spark.read.schema(schema).parquet(path)
                .select("csd_id", "ssi", "seg").collect()}
        assert back == survivors
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- connected components vs a pure union-find model -----------------------


def _unionfind_min_labels(n_nodes: int, edges: list[tuple[int, int]]):
    """Pure model: every node maps to the MIN node id reachable through
    the undirected edge set — the operator's documented contract."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Min-representative: roots were always merged toward the smaller
    # id, so find(x) IS the component minimum.
    return {x: find(x) for x in range(n_nodes)}


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=1, max_value=9),
       st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                max_size=10))
@example(8, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)])
@example(6, [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0), (0, 5)])
def test_connected_clusters_match_unionfind_model(spark, n_nodes, raw_edges):
    """connected_dedup_clusters (iterative min-label propagation with
    pointer doubling, extensions/dedup.py) equals a pure union-find
    model for arbitrary small graphs: isolated nodes label themselves,
    self-loops are inert, and the two @example chains force >2 rounds
    so the path-halving arm (it >= 2) is exercised, including the
    cycle-closing edge case."""
    from pyspark_etl_project_spark.extensions.dedup import connected_dedup_clusters

    edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
    ids = spark.createDataFrame([(i,) for i in range(n_nodes)],
                                "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long") \
        if edges else spark.createDataFrame([], "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_dedup_clusters(pairs, ids).collect()}
    assert got == _unionfind_min_labels(n_nodes, edges)


# --- winnowing fingerprints vs the SIGMOD-2003 paper model -----------------


_WIN_TOKEN = st.sampled_from(["a", "b", "ab", "x1", "zz", "q"])


def _winnow_model(toks: list[str], k: int, window: int) -> set[int]:
    import hashlib

    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hashes = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
              for g in grams]
    n = len(hashes)
    return {min(hashes[p:p + window]) for p in range(n - window + 1)}


@settings(max_examples=8, deadline=None)
@given(st.lists(_WIN_TOKEN, max_size=14),
       st.integers(min_value=1, max_value=3),
       st.integers(min_value=1, max_value=4))
@example(["a", "a", "a", "a", "a", "a"], 2, 3)  # constant-hash windows
@example([], 3, 4)
@example(["a", "b"], 3, 4)  # shorter than one gram
def test_winnowing_matches_python_model(spark, toks, k, window):
    """winnowing_fingerprints (extensions/text.py) equals the pure
    paper model — hash every k-gram (first 8 md5 hex digits), take the
    min of every ``window`` consecutive hashes, dedupe — including the
    documented too-short contract (fewer than k + window - 1 tokens
    yields NO rows) and all-identical-token documents where every
    window shares one hash."""
    from pyspark_etl_project_spark.extensions.text import winnowing_fingerprints

    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, body string")
    got = {r["fp"] for r in
           winnowing_fingerprints(df, "doc_id", "body",
                                  k=k, window=window).collect()}
    assert got == _winnow_model(toks, k, window)


# --- IVF at full probe width equals brute force -----------------------------


_VEC = st.lists(st.integers(min_value=-5, max_value=5), min_size=4,
                max_size=4).filter(lambda v: any(x != 0 for x in v))


@st.composite
def _ivf_case(draw):
    """Corpus + a genuinely sampled centroid id set: ANY non-empty
    subset of the corpus ids (not just a prefix), capped at 4
    centroids, so non-prefix selections — e.g. only the LAST vector as
    the sole centroid — exercise the cell assignment too."""
    vecs = draw(st.lists(_VEC, min_size=2, max_size=12))
    cent_ids = sorted(draw(st.sets(
        st.integers(min_value=0, max_value=len(vecs) - 1),
        min_size=1, max_size=4)))
    return vecs, cent_ids


@settings(max_examples=8, deadline=None)
@given(_ivf_case(),
       _VEC,
       st.integers(min_value=1, max_value=5))
def test_ivf_full_probe_equals_brute_force(spark, case, qvec, k):
    """With nprobe == nlist every IVF cell is probed, so the candidate
    set is the whole corpus and ivf_topk must return EXACTLY
    brute_force_topk's rows (same rounding, same id tiebreak) — for any
    corpus, any query, any centroid choice, any k. This pins that the
    cell-assignment partition is exhaustive and non-overlapping: a
    vector falling out of every cell (or into two) would break the
    equality."""
    from pyspark_etl_project_spark.extensions.similarity import (
        brute_force_topk, ivf_topk)

    vecs, cent_ids = case
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in qvec]
    exact = [(r["vec_id"], r["cos_sim"])
             for r in brute_force_topk(emb, q, k=k).collect()]
    ivf = [(r["vec_id"], r["cos_sim"])
           for r in ivf_topk(emb, q, cent_ids, k=k,
                             nprobe=len(cent_ids)).collect()]
    assert ivf == exact


# --- BPE trainer/encoder vs a pure-Python model ------------------------------


_BPE_WORD = st.sampled_from(["aa", "ab", "aba", "baa", "b", "abab", "a0a"])


def _bpe_fold(sym: list[str], l: str, r: str, m: str) -> list[str]:
    """Greedy leftmost non-overlapping merge — the engine's array fold."""
    acc: list[str] = []
    for x in sym:
        if acc and acc[-1] == l and x == r:
            acc[-1] = m
        else:
            acc.append(x)
    return acc


def _bpe_model(docs: list[list[str]], n_merges: int):
    """Pure model of bpe_train + per-word final symbol arrays: count
    adjacent pairs over the (distinct word, freq) vocabulary, take the
    (count desc, l asc, r asc) top pair, fold it into every word,
    repeat."""
    freq: dict[str, int] = {}
    for d in docs:
        for w in d:
            freq[w] = freq.get(w, 0) + 1
    syms = {w: list(w) for w in freq}
    merges = []
    for rnd in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) \
                    + freq[w]
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        m = l + r
        syms = {w: _bpe_fold(s, l, r, m) for w, s in syms.items()}
        merges.append((rnd, l, r, m, n))
    return merges, syms


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(_BPE_WORD, min_size=1, max_size=6),
                min_size=1, max_size=5),
       st.integers(min_value=1, max_value=4))
@example([["aa", "aa", "aaa"]], 3)  # overlapping-run merges, multi-round
def test_bpe_train_and_encode_match_model(spark, docs, n_merges):
    """bpe_train's merge table and bpe_encode_stats' n_bpe_tokens equal
    a pure-Python BPE model (pair counts over the distinct-word
    vocabulary, total-order tie-break, greedy leftmost non-overlapping
    fold) — including repeated-symbol runs where the fold must not
    re-merge the symbol it just created."""
    from pyspark_etl_project_spark.extensions.text import (
        bpe_encode_stats, bpe_train)

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, body string")

    want_merges, want_syms = _bpe_model(docs, n_merges)
    got_merges = [(r["merge_round"], r["sym_l"], r["sym_r"], r["merged"],
                   r["pair_count"])
                  for r in bpe_train(df, "body", n_merges)
                  .orderBy("merge_round").collect()]
    assert got_merges == want_merges

    want_tokens = {i: sum(len(want_syms[w]) for w in d)
                   for i, d in enumerate(docs)}
    got_tokens = {r["doc_id"]: r["n_bpe_tokens"] for r in
                  bpe_encode_stats(df, "doc_id", "body",
                                   n_merges=n_merges).collect()}
    assert got_tokens == want_tokens


# --- duplicate-span stats/scrub vs a positional-cover model -----------------


def _span_cover_model(docs: list[list[str]], k: int, min_count: int):
    """Pure model: a position is covered iff some k-window containing a
    corpus-duplicated gram covers it; merged spans are the contiguous
    runs of covered positions."""
    counts: dict[str, int] = {}
    for d in docs:
        for i in range(len(d) - k + 1):
            g = " ".join(d[i:i + k])
            counts[g] = counts.get(g, 0) + 1
    out = []
    for d in docs:
        covered: set[int] = set()
        for i in range(len(d) - k + 1):
            if counts[" ".join(d[i:i + k])] >= min_count:
                covered.update(range(i, i + k))
        runs = sum(1 for p in covered if p - 1 not in covered)
        clean = " ".join(t for p, t in enumerate(d) if p not in covered)
        out.append((len(d), runs, len(covered), clean))
    return out


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]),
                         max_size=10), min_size=1, max_size=4),
       st.integers(min_value=1, max_value=3),
       st.integers(min_value=2, max_value=3))
@example([["a", "b", "a", "b", "a"]], 2, 2)   # overlapping self-duplicate
@example([["a"], []], 2, 2)                    # shorter than one gram
def test_duplicate_span_ops_match_cover_model(spark, docs, k, min_count):
    """duplicate_span_stats and duplicate_span_scrub both equal the
    positional-cover model: dup_tokens is the size of the union of
    duplicated k-windows, n_dup_spans the number of contiguous covered
    runs, and the scrubbed text is exactly the uncovered tokens in
    order — including within-document self-duplicates (the corpus
    count is over occurrences, not documents) and docs too short for
    any gram."""
    from pyspark_etl_project_spark.extensions.dedup import (
        duplicate_span_scrub, duplicate_span_stats)

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    want = _span_cover_model(docs, k, min_count)

    stats = {r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"],
                           r["clean_tokens"])
             for r in duplicate_span_stats(df, "doc_id", "body",
                                           k=k, min_count=min_count).collect()}
    scrub = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["kept_tokens"])
             for r in duplicate_span_scrub(df, "doc_id", "body",
                                           k=k, min_count=min_count).collect()}
    for i, (n, runs, cov, clean) in enumerate(want):
        assert stats[i] == (n, runs, cov, n - cov), f"doc {i}"
        assert scrub[i] == (clean, n, n - cov), f"doc {i}"


# --- triangle count vs a pure enumeration model ------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                max_size=14))
@example([(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (2, 3)])  # K4: 4 triangles
@example([(0, 1), (1, 0), (0, 0), (1, 2), (2, 0)])  # dup/reverse/self-loop
def test_triangle_count_matches_enumeration(spark, raw_edges):
    """triangle_count (degree-ordered node-iterator, extensions/
    graph.py) equals brute-force enumeration over all id triples for
    any small graph — with directed duplicates, reverse edges, and
    self-loops in the input, which symmetrization must absorb."""
    from itertools import combinations

    from pyspark_etl_project_spark.extensions.graph import triangle_count

    und = {frozenset(e) for e in raw_edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    want = sum(1 for x, y, z in combinations(nodes, 3)
               if {frozenset((x, y)), frozenset((y, z)),
                   frozenset((x, z))} <= und)
    edges = spark.createDataFrame(raw_edges, "src long, dst long") \
        if raw_edges else spark.createDataFrame([], "src long, dst long")
    got = triangle_count(edges).collect()[0]["n_triangles"]
    assert got == want


# --- leakage-safe split: no candidate pair ever crosses the wall ------------


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=1, max_value=8),
       st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                max_size=8))
def test_leakage_safe_split_never_splits_a_pair(spark, n_nodes, raw_edges):
    """leakage_safe_split's contract, verified structurally: every
    candidate pair's two documents land in the SAME split (the
    whole point of clustering before bucketing), every document gets
    exactly one split from the fraction keys, and the assignment is
    the md5 bucket of the union-find cluster representative — i.e.
    reproducible from the pure model with no engine state."""
    import hashlib

    from pyspark_etl_project_spark.extensions.dedup import leakage_safe_split

    fractions = {"train": 80, "val": 10, "test": 10}
    edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
    ids = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long") \
        if edges else spark.createDataFrame([], "id_a long, id_b long")
    got = {r["doc_id"]: (r["cluster_id"], r["split"])
           for r in leakage_safe_split(pairs, ids, fractions).collect()}

    labels = _unionfind_min_labels(n_nodes, edges)

    def model_split(cluster: int) -> str:
        b = int(hashlib.md5(f"split-v1|{cluster}".encode())
                .hexdigest()[:4], 16) % 100
        lo = 0
        for name, pct in fractions.items():
            if lo <= b < lo + pct:
                return name
            lo += pct
        raise AssertionError("bucket out of range")

    assert set(got) == set(range(n_nodes))
    for doc, (cluster, split) in got.items():
        assert cluster == labels[doc]
        assert split == model_split(cluster)
    for a, b in edges:
        assert got[a][1] == got[b][1]


# --- integer PageRank vs a pure fixed-point model ----------------------------


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=1, max_value=6),
       st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)),
                max_size=12),
       st.integers(min_value=1, max_value=3))
@example(4, [(0, 1), (0, 1), (1, 2), (2, 0), (3, 0)], 3)  # duplicate edge
def test_pagerank_integer_matches_fixed_point_model(spark, n_nodes,
                                                    raw_edges, n_iter):
    """pagerank_integer's whole iterative computation replays
    bit-identically in pure Python bigint arithmetic — per-edge
    contribution score div outdeg, damping as 850*x div 1000, floor at
    exactly those two points — including duplicate edge rows (each
    contributes separately, and each raises the out-degree) and nodes
    with no in-links (base score only)."""
    from pyspark_etl_project_spark.extensions.graph import pagerank_integer

    scale = 1_000_000
    edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")

    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (scale * 150) // 1000
    score = {i: scale for i in range(n_nodes)}
    for _ in range(n_iter):
        incoming = {i: 0 for i in range(n_nodes)}
        for s, d in edges:
            incoming[d] += score[s] // outdeg[s]
        score = {i: base + (850 * incoming[i]) // 1000
                 for i in range(n_nodes)}

    got = {r["id"]: r["score"]
           for r in pagerank_integer(nodes, edf, n_iter=n_iter,
                                     scale=scale).collect()}
    assert got == score


# --- containment pairs vs a set model ----------------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.sampled_from(list("abcdefg")),
                         min_size=1, max_size=5, unique=True),
                min_size=2, max_size=8),
       st.integers(min_value=0, max_value=4),
       st.integers(min_value=1, max_value=4))
def test_containment_pairs_match_set_model(spark, shingle_sets, num, cap):
    """containment_pairs equals the pure set model: inter_n counts the
    shared shingles that survive the doc-frequency cap, size_small is
    the UNCAPPED smaller set size, the threshold num/4 cuts on exact
    integer cross-multiplication, and containment_ppm floors
    inter*1e6/size_small."""
    from pyspark_etl_project_spark.extensions.dedup import containment_pairs

    rows = [(i, [f"s{c}" for c in ss]) for i, ss in enumerate(shingle_sets)]
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")
    sets = {i: set(ss) for i, (_, ss) in enumerate(rows)}

    freq: dict[str, int] = {}
    for ss in sets.values():
        for s in ss:
            freq[s] = freq.get(s, 0) + 1
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = sum(1 for s in sets[a] & sets[b] if freq[s] <= cap)
            small = min(len(sets[a]), len(sets[b]))
            if inter > 0 and inter * 4 >= small * num:
                want[(a, b)] = (inter, small, inter * 1_000_000 // small)

    got = {(r["id_a"], r["id_b"]): (r["inter_n"], r["size_small"],
                                    r["containment_ppm"])
           for r in containment_pairs(df, "doc_id", "sh", num, 4,
                                      max_doc_freq=cap).collect()}
    assert got == want


# --- temperature mixture sampling vs a pure quota model ----------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 2)),
                min_size=1, max_size=30, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=20))
def test_temperature_mixture_matches_quota_model(spark, rows, budget):
    """temperature_mixture_sample equals the pure model: per-source
    weight floor(sqrt(n)*1e6), integer quota max(1, budget*w // total),
    and each quota filled in (md5(salt|id), id) order — fully
    deterministic, no engine state."""
    import hashlib
    import math

    from pyspark_etl_project_spark.extensions.dedup import (
        temperature_mixture_sample)

    data = [(i, f"src{s}") for i, s in rows]
    df = spark.createDataFrame(data, "id long, source string")

    by_src: dict[str, list[int]] = {}
    for i, s in data:
        by_src.setdefault(s, []).append(i)
    w = {s: math.floor(math.sqrt(len(ids)) * 1_000_000)
         for s, ids in by_src.items()}
    total = sum(w.values())
    want = set()
    for s, ids in by_src.items():
        quota = max(1, budget * w[s] // total)
        ordered = sorted(
            ids, key=lambda i: (hashlib.md5(f"temp-v1|{i}".encode())
                                .hexdigest(), i))
        want.update(ordered[:quota])

    got = {r["id"] for r in
           temperature_mixture_sample(df, "id", "source", budget).collect()}
    assert got == want


# --- majority label propagation vs a pure synchronous model ------------------


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=1, max_value=7),
       st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                max_size=12),
       st.integers(min_value=1, max_value=3))
@example(5, [(0, 0), (0, 1), (1, 2), (2, 3), (3, 4), (4, 0)], 2)  # self-loop
def test_label_propagation_matches_sync_model(spark, n_nodes, raw_edges,
                                              n_iter):
    """label_propagation_majority equals the pure synchronous model:
    symmetrize, drop self-loops, dedupe; each round every node adopts
    its neighbors' most frequent label (ties -> smaller), isolated
    nodes keep their own id."""
    from collections import Counter

    from pyspark_etl_project_spark.extensions.graph import (
        label_propagation_majority)

    edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
    und: dict[int, set[int]] = {i: set() for i in range(n_nodes)}
    for a, b in edges:
        if a != b:
            und[a].add(b)
            und[b].add(a)
    label = {i: i for i in range(n_nodes)}
    for _ in range(n_iter):
        nxt = {}
        for i in range(n_nodes):
            if und[i]:
                c = Counter(label[j] for j in und[i])
                nxt[i] = min(c, key=lambda l: (-c[l], l))
            else:
                nxt[i] = i
        label = nxt

    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")
    got = {r["id"]: r["label"]
           for r in label_propagation_majority(nodes, edf,
                                               n_iter=n_iter).collect()}
    assert got == label


# --- survivorship merge vs a pure grouping model -----------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["x y", "X  y", " x Y ", "z", "w q"]),
                          st.integers(0, 2),
                          st.integers(0, 3)),
                min_size=1, max_size=12))
def test_survivorship_merge_matches_model(spark, rows):
    """survivorship_merge equals the pure model: group by the
    whitespace/case-normalized md5 fingerprint, keep the highest
    quality (ties -> lowest id), and merge provenance (copy count,
    sorted distinct sources CSV, max quality) — with whitespace-variant
    copies deliberately colliding into one group."""
    import re as _re

    from pyspark_etl_project_spark.extensions.dedup import survivorship_merge

    data = [(i, t, f"s{src}", q) for i, (t, src, q) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, body string, source string, quality long")

    groups: dict[str, list[tuple[int, str, int]]] = {}
    for i, t, src, q in data:
        norm = _re.sub(r"\s+", " ", t.lower()).strip()
        groups.setdefault(norm, []).append((i, src, q))
    want = set()
    for members in groups.values():
        keep = min(members, key=lambda m: (-m[2], m[0]))
        want.add((keep[0], len(members),
                  ",".join(sorted({m[1] for m in members})),
                  max(m[2] for m in members)))

    got = {(r["keep_id"], r["n_copies"], r["sources_csv"], r["max_quality"])
           for r in survivorship_merge(df, "doc_id", "body", "source",
                                       "quality").collect()}
    assert got == want


# --- cross-source overlap vs the winnowing set model -------------------------


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.lists(st.sampled_from(["a", "b", "c"]),
                                   max_size=8),
                          st.integers(0, 2)),
                min_size=1, max_size=6))
def test_cross_source_overlap_matches_model(spark, docs):
    """cross_source_overlap equals the pure model: per-source distinct
    winnowing fingerprints (k=2, window=2), inner pairs only (a < b,
    shared > 0), shared counted distinct, ppm floored against the
    smaller side's total."""
    from pyspark_etl_project_spark.extensions.dedup import cross_source_overlap

    data = [(i, " ".join(toks), f"s{src}") for i, (toks, src) in
            enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, body string, src string")

    per_src: dict[str, set[int]] = {}
    for i, (toks, src) in enumerate(docs):
        per_src.setdefault(f"s{src}", set()).update(
            _winnow_model(toks, 2, 2))
    want = {}
    srcs = sorted(per_src)
    for x in range(len(srcs)):
        for y in range(x + 1, len(srcs)):
            shared = len(per_src[srcs[x]] & per_src[srcs[y]])
            if shared > 0:
                small = min(len(per_src[srcs[x]]), len(per_src[srcs[y]]))
                want[(srcs[x], srcs[y])] = (shared,
                                            shared * 1_000_000 // small)

    got = {(r["source_a"], r["source_b"]): (r["n_shared_fps"],
                                            r["containment_ppm"])
           for r in cross_source_overlap(df, "doc_id", "body", "src",
                                         k=2, window=2).collect()}
    assert got == want


# --- quantized top-k vs a pure integer model ----------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(_VEC, min_size=2, max_size=10),
       _VEC,
       st.integers(min_value=1, max_value=4),
       st.none() | st.integers(min_value=1, max_value=3))
def test_quantized_topk_matches_integer_model(spark, vecs, qvec, k, rerank):
    """quantized_topk equals the pure model: symmetric clamp-floor int
    codes (127 for the scan, 2^20-1 for the rerank), exact integer dot
    products, (dot desc, id asc) order, and the two-stage k*rerank
    candidate cut — bit-identical because every float op (x*levels/
    scale, floor) runs in the same IEEE order on both sides."""
    import math

    from pyspark_etl_project_spark.extensions.similarity import (
        RERANK_LEVELS, quantized_topk)

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in qvec]
    scale = max(max(abs(min(v[d] for _, v in rows)),
                    abs(max(v[d] for _, v in rows)))
                for d in range(4))

    def codes(v, levels):
        if scale == 0:
            return [0] * len(v)
        return [min(int(levels), max(-int(levels),
                                     math.floor(x * levels / scale)))
                for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    q8 = codes(q, 127.0)
    scored = sorted(((dot(codes(v, 127.0), q8), i) for i, v in rows),
                    key=lambda t: (-t[0], t[1]))
    if rerank is None:
        want = [i for _s, i in scored[:k]]
    else:
        cand = [i for _s, i in scored[:k * rerank]]
        q20 = codes(q, RERANK_LEVELS)
        byid = dict(rows)
        want = [i for _s, i in
                sorted(((dot(codes(byid[i], RERANK_LEVELS), q20), i)
                        for i in cand), key=lambda t: (-t[0], t[1]))[:k]]

    got = [r["vec_id"] for r in
           quantized_topk(emb, q, scale, k=k, rerank=rerank).collect()]
    assert got == want


# --- simhash vs a pure bit-vote model -----------------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "cc", "d1"]),
                         min_size=1, max_size=8),
                min_size=1, max_size=4),
       st.integers(min_value=1, max_value=16))
def test_simhash_matches_bit_vote_model(spark, docs, num_bits):
    """simhash_bits equals the pure model: every token OCCURRENCE votes
    +1/-1 per position from its md5 hex nibbles' low bits, and the
    signature bit is 1 iff the vote sum is strictly positive — repeated
    tokens voting repeatedly is the multiset semantics near-dup
    detection relies on."""
    import hashlib

    from pyspark_etl_project_spark.extensions.dedup import simhash_bits

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, body string")

    want = {}
    for i, d in enumerate(docs):
        sums = [0] * num_bits
        for t in d:
            h = hashlib.md5(t.encode()).hexdigest()
            for b in range(num_bits):
                sums[b] += (int(h[b], 16) % 2) * 2 - 1
        want[i] = "".join("1" if s > 0 else "0" for s in sums)

    got = {r["doc_id"]: r["simhash"]
           for r in simhash_bits(df, "doc_id", "body",
                                 num_bits=num_bits).collect()}
    assert got == want


# --- exact Jaccard pairs vs the set model (values, not just cap bounds) ------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.sampled_from(list("abcdef")),
                         min_size=1, max_size=5, unique=True),
                min_size=2, max_size=8),
       st.integers(min_value=0, max_value=4),
       st.integers(min_value=1, max_value=4))
def test_jaccard_pairs_match_set_model(spark, shingle_sets, num, cap):
    """jaccard_pairs equals the documented capped statistic exactly:
    inter_n counts shared shingles at-or-below the doc-frequency cap,
    union_n uses the FULL set sizes (a shared stop-shingle is
    double-counted by design), and the num/4 threshold cuts on integer
    cross-multiplication."""
    from pyspark_etl_project_spark.extensions.dedup import jaccard_pairs

    rows = [(i, [f"s{c}" for c in ss]) for i, ss in enumerate(shingle_sets)]
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")
    sets = {i: set(ss) for i, (_, ss) in enumerate(rows)}
    freq: dict[str, int] = {}
    for ss in sets.values():
        for s in ss:
            freq[s] = freq.get(s, 0) + 1
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = sum(1 for s in sets[a] & sets[b] if freq[s] <= cap)
            union = len(sets[a]) + len(sets[b]) - inter
            if inter > 0 and inter * 4 >= union * num:
                want[(a, b)] = (inter, union)
    got = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
           for r in jaccard_pairs(df, "doc_id", "sh", num, 4,
                                  max_doc_freq=cap).collect()}
    assert got == want


# --- boilerplate-line scrub vs a pure chunk model -----------------------------


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b"]),
                         min_size=1, max_size=6),
                min_size=2, max_size=8),
       st.integers(min_value=1, max_value=2))
def test_remove_boilerplate_matches_chunk_model(spark, docs, line_tokens):
    """remove_boilerplate_lines equals the pure model: split each doc
    into fixed line_tokens-sized chunks (last chunk may be short),
    drop every chunk whose distinct-document frequency exceeds
    max(1, int(n_docs * 0.10)), and reassemble survivors in order —
    with kept/removed counts."""
    from pyspark_etl_project_spark.extensions.text import (
        remove_boilerplate_lines)

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    chunks = {i: [" ".join(d[p:p + line_tokens])
                  for p in range(0, len(d), line_tokens)]
              for i, d in enumerate(docs)}
    dfreq: dict[str, int] = {}
    for cl in chunks.values():
        for line in set(cl):
            dfreq[line] = dfreq.get(line, 0) + 1
    cutoff = max(1, int(len(docs) * 0.10))
    boiler = {line for line, n in dfreq.items() if n > cutoff}
    want = {}
    for i, cl in chunks.items():
        kept = [line for line in cl if line not in boiler]
        want[i] = (" ".join(kept), len(kept), len(cl) - len(kept))

    got = {r["doc_id"]: (r["cleaned_text"], r["n_lines_kept"],
                         r["n_lines_removed"])
           for r in remove_boilerplate_lines(df, "doc_id", "body",
                                             line_tokens=line_tokens)
           .collect()}
    assert got == want


# --- intra-doc line dedup vs first-occurrence model ---------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "cc", ""]), max_size=10),
       st.sampled_from(["\n", "|", ".", "||"]))
def test_dedup_lines_in_doc_first_occurrence(spark, lines, sep):
    """dedup_lines_in_doc keeps exactly the first occurrence of every
    line in order (array_distinct order guarantee), including empty
    lines from consecutive separators — for the default newline AND
    for regex-metachar separators: ``sep`` is escaped on the split
    side (F.split takes a regex) and literal on the re-join side, so
    any separator round-trips exactly."""
    from pyspark_etl_project_spark.extensions.text import dedup_lines_in_doc

    body = sep.join(lines)
    df = spark.createDataFrame([(body,)], "body string")
    got = df.select(dedup_lines_in_doc("body", sep=sep)
                    .alias("out")).collect()[0]["out"]
    seen, kept = set(), []
    for line in body.split(sep):
        if line not in seen:
            seen.add(line)
            kept.append(line)
    assert got == sep.join(kept)


# --- Gopher quality flags vs the pure rule model ------------------------------


_GOPHER_TOK = st.sampled_from(
    ["the", "and", "have", "word", "x", "##", "a...b", "12345",
     "verylongtokenindeed", "...", "#"])


@settings(max_examples=8, deadline=None)
@given(st.lists(_GOPHER_TOK, max_size=10))
def test_gopher_flags_match_rule_model(spark, toks):
    """gopher_quality_flags equals the published rules in their
    integer-exact forms: word count bounds, 3*wc <= chars <= 10*wc,
    10*symbols <= wc (symbols = '#' count + non-overlapping '...'
    count), 5*alpha_words >= 4*wc, and >= 2 distinct stopwords —
    keep is their conjunction."""
    from pyspark_etl_project_spark.extensions.text import (
        GOPHER_STOPWORDS, gopher_quality_flags)

    body = " ".join(toks)
    df = spark.createDataFrame([(body,)], "body string")
    g = df.select(gopher_quality_flags("body", min_words=2, max_words=8)
                  .alias("g")).select("g.*").collect()[0]

    wc = len(toks)
    chars = sum(len(t) for t in toks)
    symbols = body.count("#") + body.count("...")
    alpha = sum(1 for t in toks if any(c.isascii() and c.isalpha()
                                       for c in t))
    hits = len({w for w in GOPHER_STOPWORDS if w in toks})
    want = {
        "words_ok": 2 <= wc <= 8,
        "word_len_ok": 3 * wc <= chars <= 10 * wc,
        "symbol_ok": 10 * symbols <= wc,
        "alpha_ok": 5 * alpha >= 4 * wc,
        "stop_ok": hits >= 2,
    }
    want["keep"] = all(want.values())
    assert {k: g[k] for k in want} == want


# --- Levenshtein blocking vs a pure DP model ----------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["ab", "ba", "a", "b"]),
                         min_size=1, max_size=4),
                min_size=2, max_size=8),
       st.integers(min_value=0, max_value=4))
def test_levenshtein_candidates_match_block_model(spark, token_docs, max_dist):
    """With the block-size cap disabled, levenshtein_candidates equals
    the pure model exactly: block on (first char of the normalized
    prefix, len//4), pair within blocks, keep unit-cost DP edit
    distance <= max_dist."""
    from pyspark_etl_project_spark.extensions.dedup import (
        levenshtein_candidates)

    texts = [" ".join(d) for d in token_docs]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, body string")
    prefixes = {i: t[:6] for i, t in enumerate(texts)}
    blocks = {i: (p[:1], len(p) // 4) for i, p in prefixes.items()}
    want = {}
    for a in prefixes:
        for b in prefixes:
            if a >= b or blocks[a] != blocks[b]:
                continue
            dist = _lev(prefixes[a], prefixes[b])
            if dist <= max_dist:
                want[(a, b)] = dist
    got = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in levenshtein_candidates(
               df, "doc_id", "body", prefix_len=6, block_chars=1,
               length_bucket=4, max_block_size=None,
               max_dist=max_dist).collect()}
    assert got == want


# --- MinHash LSH: exact duplicates always collide in every band ---------------


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]),
                         min_size=3, max_size=6),
                min_size=1, max_size=4),
       st.integers(min_value=0, max_value=3))
def test_minhash_lsh_duplicates_always_candidates(spark, docs, dup_of):
    """The MinHash signature is a pure function of the shingle array,
    so an exact duplicate text MUST collide with its original in every
    band (n_shared_bands == num_bands) — the recall floor banded LSH
    guarantees; and no pair can share more bands than exist."""
    from pyspark_etl_project_spark.extensions.dedup import (
        minhash_lsh_candidates)

    texts = [" ".join(d) for d in docs]
    dup_src = dup_of % len(texts)
    texts.append(texts[dup_src])  # exact duplicate of one doc
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, body string")
    got = {(r["id_a"], r["id_b"]): r["n_shared_bands"]
           for r in minhash_lsh_candidates(df, "doc_id", "body",
                                           num_hashes=8, num_bands=4,
                                           shingle_n=3).collect()}
    dup_id = len(texts) - 1
    pair = (min(dup_src, dup_id), max(dup_src, dup_id))
    assert got.get(pair) == 4
    assert all(1 <= v <= 4 for v in got.values())


# --- per-doc top-k neighbors vs a pure ranking model --------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5),
                          st.integers(1, 4), st.integers(4, 8)),
                max_size=10,
                unique_by=lambda t: (min(t[0], t[1]), max(t[0], t[1]))),
       st.integers(min_value=1, max_value=3))
def test_topk_neighbors_matches_ranking_model(spark, raw_pairs, k):
    """topk_neighbors equals the pure model: symmetrize each pair both
    ways, score by floor(inter * 1e6 / union), rank per doc by (score
    desc, neighbor asc), keep rank <= k."""
    from pyspark_etl_project_spark.extensions.dedup import topk_neighbors

    pairs = [(min(a, b), max(a, b), i, u) for a, b, i, u in raw_pairs
             if a != b]
    # unique (id_a, id_b) guaranteed by the strategy; drop self-pairs.
    pdf = spark.createDataFrame(pairs,
                                "id_a long, id_b long, inter_n long, "
                                "union_n long") \
        if pairs else spark.createDataFrame(
            [], "id_a long, id_b long, inter_n long, union_n long")

    sym: dict[int, list[tuple[int, int]]] = {}
    for a, b, i, u in pairs:
        ppm = i * 1_000_000 // u
        sym.setdefault(a, []).append((ppm, b))
        sym.setdefault(b, []).append((ppm, a))
    want = set()
    for doc, lst in sym.items():
        ranked = sorted(lst, key=lambda t: (-t[0], t[1]))[:k]
        for rank, (ppm, nb) in enumerate(ranked, 1):
            want.add((doc, rank, nb, ppm))

    got = {(r["doc_id"], r["rank"], r["neighbor"], r["jaccard_ppm"])
           for r in topk_neighbors(pdf, k=k).collect()}
    assert got == want


# --- winnowing contamination vs the fingerprint-set model ---------------------


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]), max_size=8),
                min_size=1, max_size=4),
       st.lists(st.lists(st.sampled_from(["a", "b", "c"]), max_size=8),
                min_size=1, max_size=2))
def test_winnowing_contamination_matches_model(spark, train_docs, hold_docs):
    """winnowing_contamination equals the pure model built on the
    already-pinned fingerprint model: one row per train doc sharing
    >= 1 fingerprint with the holdout, counting distinct shared
    fingerprints and distinct holdout docs hit."""
    from pyspark_etl_project_spark.extensions.dedup import (
        winnowing_contamination)

    train = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(train_docs)],
        "doc_id long, body string")
    hold = spark.createDataFrame(
        [(100 + i, " ".join(d)) for i, d in enumerate(hold_docs)],
        "doc_id long, body string")

    tf = {i: _winnow_model(d, 2, 2) for i, d in enumerate(train_docs)}
    hf = {100 + i: _winnow_model(d, 2, 2) for i, d in enumerate(hold_docs)}
    want = {}
    for i, fps in tf.items():
        shared = {f for f in fps if any(f in h for h in hf.values())}
        if shared:
            ndocs = sum(1 for h in hf.values() if h & fps)
            want[i] = (len(shared), ndocs)

    got = {r["doc_id"]: (r["n_shared_fps"], r["n_holdout_docs"])
           for r in winnowing_contamination(train, hold, "doc_id", "body",
                                            k=2, window=2).collect()}
    assert got == want


# --- weighted Bernoulli sample vs the md5 model --------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10_000),
                          st.integers(0, 1_000_000)),
                min_size=1, max_size=25, unique_by=lambda t: t[0]))
def test_weighted_sample_matches_md5_model(spark, rows):
    """weighted_sample equals the pure model: keep a row iff
    int(md5('wsample-v1|id')[:12], 16) % 1e6 < weight_ppm — weight 0
    never survives, weight 1e6 always does, and the drawn u_ppm is
    reported verbatim."""
    import hashlib

    from pyspark_etl_project_spark.extensions.dedup import weighted_sample

    df = spark.createDataFrame(rows, "id long, w long")
    want = {}
    for i, wppm in rows:
        u = int(hashlib.md5(f"wsample-v1|{i}".encode())
                .hexdigest()[:12], 16) % 1_000_000
        if u < wppm:
            want[i] = (wppm, u)
    got = {r["id"]: (r["weight_ppm"], r["u_ppm"])
           for r in weighted_sample(df, "id", F.col("w")).collect()}
    assert got == want


# --- contamination check vs the shingle-set model ------------------------------


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]), max_size=6),
                min_size=1, max_size=5),
       st.lists(st.lists(st.sampled_from(["a", "b", "c"]), max_size=6),
                min_size=1, max_size=2),
       st.integers(min_value=1, max_value=4))
def test_contamination_check_matches_model(spark, train_docs, hold_docs, cap):
    """contamination_check equals the pure model: distinct word
    2-shingles, train-side doc-frequency cap, one row per holdout doc
    with >= 1 surviving shared shingle counting distinct train docs
    and distinct leaked shingles."""
    from pyspark_etl_project_spark.extensions.dedup import contamination_check

    def sh(d):
        return {" ".join(d[i:i + 2]) for i in range(len(d) - 1)}

    train = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(train_docs)],
        "doc_id long, body string")
    hold = spark.createDataFrame(
        [(100 + i, " ".join(d)) for i, d in enumerate(hold_docs)],
        "doc_id long, body string")

    tsh = {i: sh(d) for i, d in enumerate(train_docs)}
    dfreq: dict[str, int] = {}
    for s_set in tsh.values():
        for s in s_set:
            dfreq[s] = dfreq.get(s, 0) + 1
    want = {}
    for j, d in enumerate(hold_docs):
        shared = {s for s in sh(d) if dfreq.get(s, 0) and dfreq[s] <= cap}
        if shared:
            ntrain = sum(1 for s_set in tsh.values() if s_set & shared)
            want[100 + j] = (ntrain, len(shared))

    got = {r["doc_id"]: (r["n_train_docs"], r["n_shared_ngrams"])
           for r in contamination_check(train, hold, "doc_id", "body",
                                        n=2, max_doc_freq=cap).collect()}
    assert got == want


# --- z-order Morton value vs a pure bit-interleave model -----------------------


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=1 << 20),
                         min_size=2, max_size=4),
                min_size=1, max_size=8),
       st.integers(min_value=1, max_value=12))
def test_zorder_value_matches_interleave_model(spark, rows, bits):
    """zorder_value equals the pure Morton model for ANY dimension
    count 2-4 and bit width (the existing test pins a handful of known
    values; this pins the whole function): column d owns bit positions
    d, d+k, d+2k, ... of the low `bits` bits of each masked coord."""
    from pyspark_etl_project_spark.extensions.layout import zorder_value

    k = len(rows[0])
    rows = [r for r in rows if len(r) == k]
    df = spark.createDataFrame([(i, *r) for i, r in enumerate(rows)],
                               ", ".join(["i long"]
                                         + [f"c{d} long" for d in range(k)]))

    def model(coords):
        z = 0
        mask = (1 << bits) - 1
        for d, c in enumerate(coords):
            x = c & mask
            for i in range(bits):
                z |= ((x >> i) & 1) << (i * k + d)
        return z

    got = {r["i"]: r["z"] for r in
           df.select("i", zorder_value([f"c{d}" for d in range(k)],
                                       bits=bits).alias("z")).collect()}
    assert got == {i: model(r) for i, r in enumerate(rows)}
