"""Text analysis column builders (all JVM-side built-ins — no Python in
the hot path; a 100 TB corpus scan stays in whole-stage codegen).

Generalizes the reference's normalization surface (SURVEY.md §2.H) to
corpus statistics: token counting, quality scoring, language-ID
heuristics, document fingerprinting.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# Tiny embedded stopword lists for the n-gram language heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "de", "la"],
}

# BPE-ish tokenizer: word pieces, numbers, or single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens. Empty/whitespace-only text yields an EMPTY
    array: split-of-trimmed('') is [''] — one phantom empty token that
    would put n_tokens=1 on contentless documents and skew every
    downstream corpus statistic — so empties are filtered. On
    non-empty text the filter is a no-op (a trimmed whitespace split
    never produces '' tokens), which is why the SQL twins' plain
    string_split replays stay value-identical on real documents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of regex word-piece tokens — a cheap stand-in for a BPE
    tokenizer's pre-tokenization pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def ngram_array(w: Column, n: int) -> Column:
    """Non-distinct n-grams of a token-array column, built by zipping
    the array with its own shifted tails (n-1 zip_with passes). Each
    pass is one interpreted walk over the array — measured ~9x faster
    than a transform that slices per index (higher-order functions run
    interpreted, so per-element work dominates). Positions past
    len-n+1 concat a null tail and collapse to null (F.concat
    propagates nulls), so the final not-null filter leaves exactly the
    len-n+1 grams; shorter-than-n inputs yield an empty array."""
    acc = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    if n > 1:
        acc = F.filter(acc, lambda x: x.isNotNull())
    return acc


def word_ngrams(col: Column | str, n: int) -> Column:
    """Non-distinct word n-grams (repetition-aware — unlike
    dedup.word_shingles, repeats are kept so duplicate fractions can be
    measured). Documents shorter than n words yield an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return ngram_array(tokens(c), n)


def dup_ngram_bp(col: Column | str, n: int = 2) -> Column:
    """Duplicate n-gram fraction in integer basis points — the
    Gopher-style repetition signal (high value = the document repeats
    itself). Integer math end-to-end so the cut is engine-exact."""
    g = word_ngrams(col, n)
    return F.when(
        F.size(g) > 0,
        F.floor((F.size(g) - F.size(F.array_distinct(g))).cast("bigint")
                * 10000 / F.size(g)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return p.cast("double") / F.length(c)


def stopword_ratio(col: Column | str, stopwords: list[str]) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(F.lower(c))
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return hits.cast("double") / F.size(t)


def quality_score(col: Column | str,
                  stopwords: list[str] | None = None) -> Column:
    """Composite 0..1 quality heuristic: length band + stopword presence
    + low punctuation. Deterministic, SQL-expressible (oracle twin in
    plans.extensions)."""
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    len_ok = F.when((n >= 20) & (n <= 10000), F.lit(0.5)).otherwise(F.lit(0.0))
    sw = stopword_ratio(c, stopwords or LANG_MARKERS["en"])
    sw_ok = F.when(sw > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) < 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    return len_ok + sw_ok + punct_ok


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language guess; 'und' (undetermined) when no
    marker list matches."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    t = tokens(c)
    expr = F.lit("und")
    for lang, markers in reversed(list(LANG_MARKERS.items())):
        sw = F.array(*[F.lit(w) for w in markers])
        hit = F.size(F.filter(t, lambda x: F.array_contains(sw, x))) > 0
        expr = F.when(hit, F.lit(lang)).otherwise(expr)
    return expr


def normalized_fingerprint(col: Column | str) -> Column:
    """Canonical-form document fingerprint: lowercase, collapse
    whitespace, md5. Whitespace-variant copies collide (intentionally),
    generalizing the reference's H1 exact row hash."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(norm)


def sentence_split_udtf():
    """Python UDTF (Spark 4 table-function API): one document row in,
    one row per sentence out. The deterministic '. ' splitter stands in
    for a real sentence model; the UDTF shape (lateral join, per-row
    fan-out from Python) is the contract a spaCy/pysbd segmenter plugs
    into.

    This is the slow path by design — a demonstration that the engine
    carries the UDTF surface. Pure-column `posexplode(split(...))`
    expresses the same thing JVM-side and is what the hot path should
    use; the UDTF earns its cost only when the segmentation logic
    cannot be a column expression."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, n_chars int")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001
            for i, s in enumerate((text or "").split(". ")):
                yield doc_id, i, len(s)

    return SentenceSplit


def chunk_tokens(df, id_col: str, text_col: str,
                 window: int = 32, stride: int = 24):
    """Context-window chunking: split each document's token stream into
    fixed-size windows with overlap — the LLM-pretraining sequence prep
    (``window`` = model context length, ``stride`` < window = overlap so
    no boundary context is lost). Start offsets are 0, stride, 2*stride,
    ... while < n_tokens, i.e. ceil(n/stride) chunks; the last chunk may
    be short.

    Pure per-row array expressions + one posexplode: zero shuffle,
    output volume proportional to corpus token count — the shape that
    survives 100 TB. Returns (id, chunk_idx, n_tokens, chunk_md5) with
    the md5 over the space-rejoined window (engine-portable content
    fingerprint)."""
    w = tokens(text_col)
    starts = F.sequence(F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)),
                        F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(w, s + 1, window))
    return (df.select(F.col(id_col),
                      F.posexplode(chunks).alias("chunk_idx", "_c"))
              .select(id_col,
                      F.col("chunk_idx").cast("int").alias("chunk_idx"),
                      F.size("_c").cast("int").alias("n_tokens"),
                      F.md5(F.concat_ws(" ", "_c")).alias("chunk_md5")))


def pack_documents(df, id_col: str, token_count_col: str, group_col: str,
                   budget: int = 512):
    """Sequence packing: assign documents to fixed-token-budget bins in
    deterministic id order WITHIN each group — running token total over
    a (group, id) window, bin = floor(pre_sum / budget), offset =
    pre_sum % budget (where in the bin the doc starts; a doc may
    straddle a boundary, which is how pretraining packers behave).

    Partitioned by ``group_col`` (shard/language), NOT a global window:
    one shuffle on the group key, every group packs in parallel — a
    global ORDER BY window would funnel the corpus through one task.
    Deterministic: no RNG, stable across runs and engines.

    Skew note: a single dominant group (one language can be most of a
    web corpus) is itself a one-task funnel. Bound it by passing a
    COMPOSITE group — e.g. ``F.concat_ws("|", lang,
    F.floor(F.col(id) / 10000).cast("string"))`` — so each shard packs
    at most N docs; bins are then unique per (group, shard), which is
    fine because packing bins are arbitrary groupings anyway. The
    registered query demonstrates exactly this shape."""
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col).orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    pre = (F.sum(token_count_col).over(w) - F.col(token_count_col))
    return df.select(
        F.col(id_col), F.col(group_col),
        F.col(token_count_col).cast("long").alias("n_tokens"),
        F.floor(pre / budget).cast("long").alias("bin_id"),
        (pre % budget).cast("long").alias("bin_offset"))


def remove_boilerplate_lines(df, id_col: str, text_col: str,
                             line_tokens: int = 2,
                             max_doc_frac: float = 0.10):
    """C4-style boilerplate scrubbing: drop every 'line' that occurs in
    more than ``max_doc_frac`` of all documents (nav bars, cookie
    banners, license footers), then reassemble each document from its
    surviving lines in order.

    Real corpora split on newlines; the synthetic testdata is
    single-line, so a 'line' here is a fixed run of ``line_tokens``
    whitespace tokens — the split rule is one expression, everything
    downstream is delimiter-agnostic.

    Scale shape: posexplode (no shuffle) → per-(doc, line) rebuild
    (shuffle on doc_id) → line document-frequency as an EXPLICIT
    two-phase aggregate: distinct over (line, doc) — the shuffle key
    includes doc_id, so a footer present in 30% of documents spreads
    over the whole cluster instead of one reducer — then count per line
    with map-side partial combine (each reducer receives at most
    #partitions partial rows per line, never the raw occurrences).
    The boilerplate set itself (lines above the cutoff) is BOUNDED:
    Σ doc_freq ≤ total line instances, so at most
    total_instances / cutoff ≈ avg_lines_per_doc / max_doc_frac lines
    can exceed the cutoff — independent of corpus size. It broadcasts;
    the keep-filter join is a broadcast left-anti shape with zero
    shuffle, so the skewed line string is never a join shuffle key.
    Per-doc reassembly shuffles on doc_id (uniform). Nothing is
    all-pairs and no driver-side state; the df threshold's denominator
    is one scalar count.

    Returns (doc_id, cleaned_text, n_lines_kept, n_lines_removed) with
    cleaned_text '' for fully-scrubbed docs — they stay in the corpus
    for the caller to filter explicitly.
    """
    spark = df.sparkSession
    n_docs = df.count()  # one scalar — the threshold denominator
    cutoff = max(1, int(n_docs * max_doc_frac))

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("_pos", "_tok"))
    lines = (toks
             .groupBy(id_col, (F.floor(F.col("_pos") / line_tokens))
                      .cast("int").alias("_line_idx"))
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                     lambda s: s["_tok"]), " ").alias("_line")))
    line_df = (lines.select("_line", id_col).distinct()
               .groupBy("_line")
               .agg(F.count(F.lit(1)).alias("_n_docs")))
    boiler = (line_df.filter(F.col("_n_docs") > F.lit(cutoff))
              .select("_line", F.lit(True).alias("_boiler")))
    kept = (lines.join(F.broadcast(boiler), "_line", "left")
                 .withColumn("_keep", F.col("_boiler").isNull())
                 .drop("_boiler"))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("_line_idx", "_line")))),
                         lambda s: s["_line"]), " ").alias("cleaned_text"),
                 F.sum(F.when(F.col("_keep"), 1).otherwise(0))
                  .cast("long").alias("n_lines_kept"),
                 F.sum(F.when(F.col("_keep"), 0).otherwise(1))
                  .cast("long").alias("n_lines_removed")))


def winnowing_fingerprints(df, id_col: str, text_col: str,
                           k: int = 3, window: int = 4):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003): hash every k-token gram, slide a window of ``window``
    consecutive gram hashes over the document, keep the minimum hash of
    each window, dedupe. The selected minima are the document's
    fingerprint set — position-robust (insertions shift positions but
    local minima survive) and guaranteed to share fingerprints with any
    document containing a long-enough verbatim overlap, which is what
    plagiarism/contamination detection needs and a global hash can't
    give.

    The gram hash is the first 8 hex digits of md5 (portable: DuckDB
    replays it bit-for-bit); rolling-hash incrementality is an
    optimization for sequential scanners — here every gram hashes
    independently in one vectorized expression, which is the
    distributed-friendly equivalent.

    Scale shape: ZERO shuffles — the whole selection runs inside the
    document's row with array higher-order functions (hash every gram,
    take the min of each length-``window`` slice, array_distinct, then
    explode the selected set). The former shape posexploded every gram
    and shuffled them into a per-document window plus a distinct
    exchange on (doc, fp) — two exchanges whose keys were the document
    id, i.e. pure data movement with no cross-document information
    (guide §2.4: remove shuffles outright). Per-row memory is the
    gram-hash array — linear in ONE document's length, the same bound
    the explode path's per-window sort buffer already assumed. The
    hash array is staged as a NAMED, multi-referenced column so it is
    computed once per row (an alias referenced more than once survives
    CollapseProject; inlining it into the lambda would re-run the md5
    transform per window). Measured ~1.6x faster end-to-end at sf0.1
    (doc_fingerprint_winnowing 1.7 s -> 1.1 s) on top of the exchange
    removal — HOFs run interpreted, but min-of-4-slice per window is
    cheap next to two shuffles of every gram hash.

    Returns (id_col, fp) pairs — one row per selected fingerprint,
    deduped per document (identical to the old distinct on (doc, fp)).
    Documents with fewer than k + window - 1 tokens (no full window)
    yield no rows, per the standard scheme. (The position guard also
    avoids the F.sequence(0, n) count-DOWN footgun at n < 0.)
    """
    staged = df.select(
        F.col(id_col),
        F.transform(word_ngrams(F.col(text_col), k),
                    lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
                               .cast("long")).alias("_hs"))
    hs = F.col("_hs")
    n = F.size(hs)
    mins = F.transform(
        F.sequence(F.lit(0), n - window),
        lambda i: F.array_min(F.slice(hs, i + 1, window)))
    fps = F.when(n >= window, F.array_distinct(mins)) \
           .otherwise(F.array().cast("array<long>"))
    return staged.select(F.col(id_col), F.explode(fps).alias("fp"))


def lang_id_from_tokens(tok_col: Column | str) -> Column:
    """lang_id over an already-staged lowercased token array — use when
    the array is a named column so it's computed once per row (a fused
    lang_id(text) re-splits the text for every marker probe)."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    expr = F.lit("und")
    for lang, markers in reversed(list(LANG_MARKERS.items())):
        sw = F.array(*[F.lit(w) for w in markers])
        expr = F.when(F.arrays_overlap(t, sw), F.lit(lang)).otherwise(expr)
    return expr


def dup_bp_from_ngrams(gram_col: Column | str) -> Column:
    """dup_ngram_bp over an already-staged n-gram array column (same
    staging rationale as lang_id_from_tokens)."""
    g = F.col(gram_col) if isinstance(gram_col, str) else gram_col
    return F.when(
        F.size(g) > 0,
        F.floor((F.size(g) - F.size(F.array_distinct(g))).cast("bigint")
                * 10000 / F.size(g)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))


def dedup_lines_in_doc(col: Column | str, sep: str = "\n") -> Column:
    """Remove repeated lines WITHIN a document, keeping the first
    occurrence in order — the intra-document counterpart of the corpus
    boilerplate scrub (remove_boilerplate_lines works ACROSS documents;
    this collapses a doc that repeats its own navigation block or
    footer on every page of a concatenated crawl).

    Pure column expression: split -> array_distinct (Spark guarantees
    first-occurrence order) -> re-join. No shuffle at all — a 100 TB
    corpus pass stays map-only inside whole-stage codegen, which is the
    property that makes per-document cleanup free to fuse into any scan.

    ``sep`` is treated as a LITERAL separator on both sides:
    ``F.split`` takes a regex, so the pattern is escaped before use —
    a metachar separator (e.g. ``"|"``) splits and re-joins on the
    same literal text and round-trips exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_distinct(F.split(c, re.escape(sep))), sep)


# Gopher-style document-quality rules (Rae et al. 2021, "Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# appendix A1.1 — public paper). Thresholds are the published ones;
# every comparison is integer cross-multiplied so the keep/drop
# decision is bit-identical across engines (no float ratios at the
# boundary), mirroring the repo-wide cross-engine rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(col: Column | str,
                         min_words: int = 50,
                         max_words: int = 100_000) -> Column:
    """Struct of per-rule booleans plus the composite ``keep`` flag.

    Rules (integer-exact forms):
      - word count in [min_words, max_words]
      - mean word length in [3, 10]        (3*wc <= chars <= 10*wc)
      - symbol-to-word ratio <= 0.1        (10 * (#'#' + #'...') <= wc)
      - >= 80% of words contain a letter   (5*alpha_words >= 4*wc)
      - >= 2 distinct Gopher stop words present

    Map-only column math — composes with any scan; the corpus-level
    drop-rate audit is one map-combinable aggregation on top.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    wc = F.size(t).cast("bigint")
    chars = F.aggregate(t, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x))
    # '#' occurrences + literal '...' occurrences (the Gopher symbol set).
    hashes = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    dots = F.floor((F.length(c)
                    - F.length(F.regexp_replace(c, r"\.\.\.", ""))) / 3)
    symbols = (hashes + dots).cast("bigint")
    alpha_words = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    lower_toks = tokens(F.lower(c))
    sw = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    sw_hits = F.size(F.array_distinct(
        F.filter(lower_toks, lambda x: F.array_contains(sw, x))))
    words_ok = (wc >= min_words) & (wc <= max_words)
    word_len_ok = (chars >= 3 * wc) & (chars <= 10 * wc)
    symbol_ok = 10 * symbols <= wc
    alpha_ok = 5 * F.lit(1).cast("bigint") * alpha_words >= 4 * wc
    stop_ok = sw_hits >= 2
    return F.struct(
        words_ok.alias("words_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (words_ok & word_len_ok & symbol_ok & alpha_ok & stop_ok)
        .alias("keep"),
    )


# --- corpus-frequency statistics (round 6) ---------------------------------

# Lowercased alphanumeric word tokens — the shared tokenization rule for
# the corpus-frequency operators below. One regex split per document;
# the DuckDB oracles replay the identical character class.
ALNUM_TOKEN_RE = r"[^a-z0-9]+"


def alnum_tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens (split on any non-[a-z0-9] run,
    empties dropped — so leading/trailing punctuation never yields a
    phantom token)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), ALNUM_TOKEN_RE),
                    lambda x: x != "")


def rare_token_scores(df, id_col: str, text_col: str,
                      materialize: bool = True):
    """Per-document corpus-frequency quality signals — the integer-exact
    core of a unigram-LM quality filter (documents dominated by tokens
    the corpus itself rarely uses are the noisy tail a perplexity filter
    would drop; this keeps the decision engine-exact by ranking on raw
    corpus frequencies instead of float log-probs).

    Output per document: ``n_tokens``, ``n_rare`` (tokens whose corpus
    frequency is below the corpus mean: ``freq * n_vocab < n_total`` —
    pure bigint math, no division), ``rare_ppm`` (rare fraction in
    parts-per-million via bigint floor division), ``mean_freq_x1000``
    (mean corpus frequency of the document's tokens, ×1000, floored).

    Shape at 100 TB: the corpus is tokenized ONCE into a per-(doc,
    token) count frame — everything downstream (vocabulary frequencies,
    corpus totals, the score join) derives from that frame, so with
    ``materialize`` (a lazy localCheckpoint, the cluster-canonical
    pattern) the raw text is scanned exactly once and the reused
    intermediate is the compact count table, not the corpus. The token
    join shuffles both sides by token; the probe side is pre-shrunk to
    distinct (doc, token) pairs (per-doc multiplicity is carried as a
    weight, not as rows), the build side is unique per key, and AQE
    skew-split covers the frequent-token probe skew. If the vocabulary
    fits the broadcast threshold (true even for web-scale vocabularies
    after minimum-count pruning) Spark picks a broadcast hash join and
    the shuffle disappears entirely."""
    tok_counts = (df.select(F.col(id_col),
                            F.explode(alnum_tokens(text_col)).alias("token"))
                    .groupBy(id_col, "token")
                    .agg(F.count(F.lit(1)).alias("cnt")))
    if materialize:
        tok_counts = tok_counts.localCheckpoint(eager=False)
    freq = (tok_counts.groupBy("token")
            .agg(F.sum("cnt").cast("bigint").alias("freq")))
    totals = freq.agg(
        F.sum("freq").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).alias("n_vocab"))
    scored = (tok_counts.join(freq, "token")
                        .join(F.broadcast(totals)))
    rare_w = F.expr("cast(freq * n_vocab < n_total as bigint) * cnt")
    return (scored.groupBy(id_col)
            .agg(F.sum("cnt").alias("n_tokens"),
                 F.sum(rare_w).alias("n_rare"),
                 F.expr("sum(cast(freq * n_vocab < n_total as bigint) * cnt) "
                        "* 1000000 div sum(cnt)").alias("rare_ppm"),
                 F.expr("sum(freq * cnt) * 1000 div sum(cnt)")
                  .alias("mean_freq_x1000")))


def char_pair_counts(df, text_col: str, top_k: int = 50):
    """Adjacent character-pair frequencies over the corpus — the
    statistic a BPE/WordPiece trainer recomputes every merge round.
    Counted the way real trainers do it: aggregate the corpus to
    (distinct word, freq) FIRST, then enumerate each distinct word's
    adjacent pairs once and weight by the word frequency — pair
    enumeration cost scales with the vocabulary, not the corpus.
    A pair repeated inside one word ('aaa' → 'aa' twice) counts per
    occurrence. Top-k by (count desc, pair asc) — a total order, so the
    cut line is deterministic."""
    words = (df.select(F.explode(alnum_tokens(text_col)).alias("w"))
               .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
               .filter(F.char_length("w") >= 2))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, char_length(w) - 1), "
            "i -> substring(w, i, 2))")).alias("pair"),
        "freq")
    return (pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), "pair")
            .limit(top_k))


def next_token_topk(df, text_col: str, k: int = 3):
    """Per-word top-k continuations with counts — the conditional
    bigram table P(next | word) reduced to its integer-exact core
    (counts, not probabilities). One shuffle to count (w1, w2) pairs
    (map-side combined), one w1-partitioned window for the top-k cut;
    tie-break (count desc, w2 asc) makes every rank deterministic.
    Output rows ~ vocabulary × k, independent of corpus size."""
    from pyspark.sql import Window

    toks = (df.select(alnum_tokens(text_col).alias("t"))
              .filter(F.size("t") >= 2))
    bigrams = (toks.select(F.explode(F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"
    )).alias("b")).select("b.w1", "b.w2"))
    counts = (bigrams.groupBy("w1", "w2")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("w1").orderBy(F.desc("n"), F.col("w2"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def bpe_train(df, text_col: str, n_merges: int = 6):
    """Learn ``n_merges`` BPE merges over the corpus and return the
    merge table: (merge_round, sym_l, sym_r, merged, pair_count).

    The real trainer loop, distributed the way k-means refine is:
    the corpus is collapsed ONCE to (distinct word, freq) and each word
    to its symbol array (chars to start; no end-of-word marker — the
    marker is one extra literal in the init expression if a caller
    wants it). Every round is then
      1. adjacent-pair counts over the vocabulary, weighted by word
         frequency — map-side combined, shuffle keyed on the pair;
      2. top-1 pair with total-order tie-break (count desc, l, r asc) —
         a LIMIT-1 collect, so the driver holds one row per round,
         never anything corpus-sized;
      3. merge application as a map-only array fold (greedy
         leftmost non-overlapping, the BPE rule: 'lll' + (l,l) → 'll l';
         the fold needs no lookahead because merged = l||r can never
         equal l), then a lazy localCheckpoint so plan depth stays
         constant across rounds (the cluster-canonical pattern).
    Per-round cost scales with the VOCABULARY (pair enumeration over
    distinct words), not the corpus — the property that makes BPE
    training feasible at 100 TB. Oracle twin: the same rounds unrolled
    as chained CTEs with list_reduce replaying the identical fold."""
    spark = df.sparkSession
    words = (df.select(F.explode(alnum_tokens(text_col)).alias("w"))
               .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    merges, _ = _bpe_rounds(words, n_merges)
    from pyspark_etl_project_spark.functions.seedframe import seed_df
    return seed_df(
        spark, merges,
        "merge_round int, sym_l string, sym_r string, "
        "merged string, pair_count long")


def _bpe_rounds(words, n_merges: int):
    """The BPE merge loop over a (w, freq) vocabulary frame. Returns
    (merges, final_vocab) where merges is a list of (round, l, r,
    merged, count) tuples — one row of driver state per round — and
    final_vocab keeps (w, sym, freq) with ``sym`` the word's symbol
    array after all merges (the trained tokenizer's view of the
    vocabulary, ready for encode joins)."""
    words = (words
             .withColumn("sym", F.expr(
                 "transform(sequence(1, char_length(w)), "
                 "i -> substring(w, i, 1))"))
             .localCheckpoint(eager=False))
    merges = []
    for rnd in range(1, n_merges + 1):
        pairs = (words.filter(F.size("sym") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(1, size(sym) - 1), "
                     "i -> struct(element_at(sym, i) as l, "
                     "element_at(sym, i + 1) as r))")).alias("p"),
                     "freq")
                 .groupBy("p.l", "p.r")
                 .agg(F.sum("freq").cast("bigint").alias("n")))
        top = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merged = left + right

        def make_step(_l, _r, _m):
            def step(acc, x):
                hit = ((F.size(acc) > 0)
                       & (F.element_at(acc, -1) == F.lit(_l))
                       & (x == F.lit(_r)))
                return (F.when(hit,
                               F.concat(F.slice(acc, 1, F.size(acc) - 1),
                                        F.array(F.lit(_m))))
                         .otherwise(F.concat(acc, F.array(x))))
            return step

        step = make_step(left, right, merged)

        words = (words.withColumn(
                     "sym",
                     F.aggregate("sym", F.array().cast("array<string>"), step))
                 .localCheckpoint(eager=False))
        merges.append((rnd, left, right, merged, n))
    return merges, words


def bpe_encode_stats(df, id_col: str, text_col: str, n_merges: int = 4):
    """Train ``n_merges`` BPE merges on the corpus, then ENCODE the
    corpus with them — the inference half of the tokenizer, reported as
    per-document integer stats: ``n_words``, ``n_chars`` (symbol count
    before any merge), ``n_bpe_tokens`` (after the merges), and
    ``tokens_per_char_ppm`` (n_bpe_tokens/n_chars in parts-per-million,
    bigint floor division — the compression the learned merges achieve
    on that document).

    Encoding never re-folds the corpus: the merge folds run once per
    DISTINCT word (the trained vocabulary keeps each word's final
    symbol array), and documents join their (word, count) multiset to
    that vocabulary — corpus-sized work is one tokenize pass plus one
    join keyed on the word, with the per-doc multiplicity carried as a
    weight. The word-count frame is checkpointed once and feeds both
    the trainer's vocabulary and the encode join, so the raw text is
    scanned exactly once."""
    tok_counts = (df.select(F.col(id_col),
                            F.explode(alnum_tokens(text_col)).alias("w"))
                    .groupBy(id_col, "w")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .localCheckpoint(eager=False))
    words = tok_counts.groupBy("w").agg(F.sum("cnt").cast("bigint")
                                        .alias("freq"))
    _, vocab = _bpe_rounds(words, n_merges)
    enc = tok_counts.join(
        vocab.select("w", F.size("sym").alias("n_sym")), "w")
    return (enc.groupBy(id_col)
            .agg(F.sum("cnt").alias("n_words"),
                 F.sum(F.col("cnt") * F.char_length("w")).cast("bigint")
                  .alias("n_chars"),
                 F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint")
                  .alias("n_bpe_tokens"),
                 F.expr("sum(cnt * n_sym) * 1000000 "
                        "div sum(cnt * char_length(w))")
                  .alias("tokens_per_char_ppm")))


def source_dataset_card(df, source_col: str, text_col: str,
                        lang_col: str, min_words: int = 30):
    """Per-source dataset-card statistics — the one-row-per-source
    summary a curation pipeline publishes next to a corpus: volume
    (docs, chars), language spread, quality (Gopher keep rate), and
    exact-duplicate rate. Every rate is integer ppm so the card is
    engine-exact.

    One groupBy(source), one corpus pass, no joins: all signals are
    map-side column expressions (gopher flags, normalized fingerprint,
    char length); the two distinct-aggregates (langs, fingerprints)
    make Spark plan it as Expand + two-phase aggregation, which is TWO
    exchanges on the group key — the second moves only
    partially-aggregated rows, never the corpus."""
    g = gopher_quality_flags(text_col, min_words=min_words)
    staged = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("_lang"),
        F.char_length(text_col).cast("bigint").alias("_chars"),
        g["keep"].cast("bigint").alias("_keep"),
        normalized_fingerprint(text_col).alias("_fp"))
    return (staged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("_lang").alias("n_langs"),
                 F.sum("_chars").alias("total_chars"),
                 F.expr("sum(_chars) div count(1)").alias("mean_chars"),
                 F.expr("sum(_keep) * 1000000 div count(1)")
                  .alias("gopher_keep_ppm"),
                 F.expr("(count(1) - count(distinct _fp)) * 1000000 "
                        "div count(1)").alias("exact_dup_ppm")))


def keyword_topic_tags(df, id_col: str, text_col: str,
                       topics: dict[str, list[str]]):
    """FlashText-style multi-keyword topic tagging: a curated
    keyword→topic table (broadcast — keyword lists are thousands of
    rows) joins the exploded token stream on EQUALITY, so tagging cost
    is one map-side hash probe per token, independent of how many
    keywords exist — never a per-(doc × pattern) regex scan. Per-doc
    rollup: ``primary_topic`` (most keyword hits; ties broken by topic
    name — deterministic), its hit count, distinct topics touched, and
    total hits. Documents with no keyword hit are absent (inner join) —
    the caller left-joins if untagged docs matter.

    Shuffle story: the keyword join is map-side (broadcast); the only
    exchanges are the (doc, topic) count and the per-doc window/rollup,
    both keyed on the uniform doc id."""
    from pyspark.sql import Window

    spark = df.sparkSession
    from pyspark_etl_project_spark.functions.seedframe import seed_df
    kw = F.broadcast(seed_df(
        spark, [(w, t) for t, ws in sorted(topics.items()) for w in ws],
        "token string, topic string"))
    tok = df.select(F.col(id_col),
                    F.explode(alnum_tokens(text_col)).alias("token"))
    per_topic = (tok.join(kw, "token")
                 .groupBy(id_col, "topic")
                 .agg(F.count(F.lit(1)).alias("n_hits")))
    w = Window.partitionBy(id_col).orderBy(F.desc("n_hits"), "topic")
    return (per_topic.withColumn("rk", F.row_number().over(w))
            .groupBy(id_col)
            .agg(F.max(F.when(F.col("rk") == 1, F.col("topic")))
                 .alias("primary_topic"),
                 F.max(F.when(F.col("rk") == 1, F.col("n_hits")))
                 .alias("primary_hits"),
                 F.count(F.lit(1)).alias("n_topics"),
                 F.sum("n_hits").alias("total_hits")))


def ngram_novelty(df, text_col: str, group_col: str, n: int = 3):
    """Per-group n-gram novelty: total n-gram occurrences vs distinct
    n-grams, with novelty = distinct/total in integer ppm. The corpus
    self-repetition diagnostic (a crawl that re-serves the same pages
    under one source scores low) — the corpus-level complement of the
    per-doc dup_ngram_bp signal.

    Scale: one explode then a two-level aggregate; Spark plans the
    COUNT DISTINCT as partial-agg on (group, gram) before the final
    group shuffle, so the wide key never reaches one reducer."""
    c = F.col(group_col)
    g = df.select(c.alias("grp"),
                  F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
    return (g.groupBy(F.col("grp").alias(group_col))
             .agg(F.count(F.lit(1)).alias("total_ngrams"),
                  F.countDistinct("gram").alias("distinct_ngrams"))
             .withColumn("novelty_ppm",
                         F.expr("distinct_ngrams * 1000000 div total_ngrams")))


def curriculum_buckets(df, id_col: str, order_col: str,
                       n_buckets: int = 10):
    """Deterministic curriculum bucketing: rank every row by
    (``order_col``, ``id_col``) with the two-phase range-partitioned
    row number (operators/scd2.py:dense_row_number — never a
    one-task global window), then bucket i = (rank-1)*n_buckets div N.
    Integer-exact ntile: bucket sizes differ by at most one and the
    assignment is reproducible across runs and cluster sizes — the
    property a resumable curriculum schedule needs.

    The row total joins back as a broadcast single-row aggregate (no
    driver-side action). Returns the input columns plus ``bucket``."""
    from pyspark_etl_project_spark.operators.scd2 import dense_row_number

    numbered = dense_row_number(df, [order_col, id_col], "_rn")
    # Count from the RAW input, not the numbered frame: the numbered
    # lineage carries the range exchange + offsets side plan, and a
    # third consumer of it would replay those plan nodes. Row count is
    # invariant under numbering, so the cheap branch is safe.
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (numbered.crossJoin(F.broadcast(total))
            .withColumn("bucket",
                        F.expr(f"cast((_rn - 1) * {n_buckets} div _total"
                               " as int)"))
            .drop("_rn", "_total"))


def kmv_distinct_sketch(df, group_col: str, value_col: str,
                        k: int = 64, salt: str = "kmv-v1"):
    """KMV (k-minimum-values) distinct-count sketch per group, fully
    deterministic: each distinct value hashes to a 48-bit md5 integer;
    the k-th smallest hash h_k estimates the distinct count as
    (k-1) * 2^48 div h_k (pure integer math, so the oracle replays the
    estimator bit-for-bit — unlike HLL implementations whose hash
    seeds differ per engine). The sketch shape a 100 TB cardinality
    pass would ship: per group only k hashes survive, merged
    associatively; here the k-th minimum is selected by a grouped
    window over the (group, hash) distinct set.

    Returns (group, kth_min_hash, est_distinct, exact_distinct,
    err_ppm) — the calibration view; a production caller would drop
    the exact column (whose computation is the expensive part this
    sketch exists to avoid)."""
    from pyspark_etl_project_spark.operators.stats import kmv_value_hash

    c = F.col(group_col)
    hashed = (df.select(c.alias("grp"), F.col(value_col).alias("v"))
                .distinct()
                .withColumn("h", kmv_value_hash(F.col("v"), salt)))
    w = Window.partitionBy("grp").orderBy("h")
    kth = (hashed.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == k)
           .select("grp", F.col("h").alias("kth_min_hash")))
    exact = hashed.groupBy("grp").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    max_h = 1 << 48
    return (exact.join(kth, "grp", "left")
            .select(F.col("grp").alias(group_col),
                    "kth_min_hash",
                    F.expr(f"cast(case when kth_min_hash is null then"
                           " exact_distinct else"
                           f" ({k} - 1) * cast({max_h} as bigint)"
                           " div kth_min_hash end as bigint)")
                     .alias("est_distinct"),
                    "exact_distinct",
                    F.expr("abs(cast((case when kth_min_hash is null then"
                           " exact_distinct else"
                           f" ({k} - 1) * cast({max_h} as bigint)"
                           " div kth_min_hash end) as bigint)"
                           " - exact_distinct) * 1000000"
                           " div exact_distinct").alias("err_ppm")))


def collocations_topk(df, text_col: str, k: int = 50,
                      min_count: int = 5):
    """Top-k collocations by integer lift — the PMI-style association
    mining pass (which token pairs co-occur far above chance) that
    feeds phrase vocabularies and tokenizer merges. Lift is kept in
    exact integer milli-units, lift_milli = c_ab * N * 1000 div
    (c_a * c_b) (PMI's exp without the log — same ranking), so the
    cut and tiebreak are engine-exact.

    Scale: bigram and unigram counts are map-combined groupBys; the
    two enrichment joins shuffle on the token (vocabulary-keyed, Zipf
    head absorbed by AQE skew split); the final top-k compiles to
    TakeOrderedAndProject (per-partition heap, k rows to the driver).
    The deterministic (lift desc, pair asc) order makes the k-cut
    reproducible."""
    toks = tokens(F.col(text_col))
    uni = (df.select(F.explode(toks).alias("t"))
             .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    # One bigram explode serves both the pair counts and the corpus
    # total: the unfiltered count table is vocabulary-sized, so summing
    # it for N costs a vocab-scan, not a second corpus explode.
    bc0 = (df.select(F.explode(ngram_array(toks, 2)).alias("g"))
             .groupBy("g").agg(F.count(F.lit(1)).alias("pair_n"))
             .localCheckpoint(eager=False))
    bi = (bc0.filter(F.col("pair_n") >= min_count)
             .withColumn("tok_a", F.split("g", " ")[0])
             .withColumn("tok_b", F.split("g", " ")[1]))
    total = bc0.agg(F.sum("pair_n").alias("_n"))
    ua = uni.select(F.col("t").alias("tok_a"), F.col("c").alias("_ca"))
    ub = uni.select(F.col("t").alias("tok_b"), F.col("c").alias("_cb"))
    return (bi.join(ua, "tok_a").join(ub, "tok_b")
            .crossJoin(F.broadcast(total))
            .withColumn("lift_milli",
                        F.expr("pair_n * _n * 1000 div (_ca * _cb)"))
            .orderBy(F.desc("lift_milli"), "tok_a", "tok_b")
            .limit(k)
            .select("tok_a", "tok_b", "pair_n", "lift_milli"))


def cms_heavy_hitters(df, text_col: str, depth: int = 4,
                      width: int = 1024, top_k: int = 20,
                      salt: str = "cms-v1"):
    """Count-min-sketch calibration for token heavy hitters: every
    token occurrence increments ``depth`` hashed cells (md5-derived, so
    the sketch is bit-identical across engines and replayable by the
    SQL oracle); a token's estimate is the MIN over its cells — always
    >= the true count, inflated only by collisions. Returns the top-k
    tokens BY EXACT COUNT with (exact_n, cms_est, overcount) — the
    view that sizes depth x width for a corpus before relying on the
    sketch alone.

    Scale: the sketch table is depth*width integer cells regardless of
    corpus size (the groupBy on (seed, cell) map-combines); the exact
    side exists only for calibration. Top-k compiles to
    TakeOrderedAndProject with a deterministic (count desc, token asc)
    cut."""
    toks = (df.select(F.explode(tokens(F.col(text_col))).alias("t"))
              .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
              .localCheckpoint(eager=False))
    cells = None
    for d in range(depth):
        cell = (toks.select(
            F.lit(d).alias("seed"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{salt}|{d}|"), F.col("t"))),
                1, 12), 16, 10).cast("long") % width).alias("cell"),
            "n"))
        cells = cell if cells is None else cells.unionByName(cell)
    sketch = cells.groupBy("seed", "cell").agg(F.sum("n").alias("cn"))
    probes = None
    for d in range(depth):
        p = toks.select(
            "t", "n", F.lit(d).alias("seed"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{salt}|{d}|"), F.col("t"))),
                1, 12), 16, 10).cast("long") % width).alias("cell"))
        probes = p if probes is None else probes.unionByName(p)
    est = (probes.join(sketch, ["seed", "cell"])
           .groupBy("t", "n").agg(F.min("cn").alias("cms_est")))
    return (est
            .orderBy(F.desc("n"), "t").limit(top_k)
            .select(F.col("t").alias("token"),
                    F.col("n").cast("long").alias("exact_n"),
                    F.col("cms_est").cast("long").alias("cms_est"),
                    (F.col("cms_est") - F.col("n")).cast("long")
                    .alias("overcount")))
