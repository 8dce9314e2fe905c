"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All JVM-side (built-in functions, md5 for
cross-engine-stable hashing) — no Python in any hot path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..stopwords import ENGLISH, PORTUGUESE, SPANISH

# BPE-ish token pattern: letter runs, digit runs, or single non-space symbol
TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _lang_rows() -> list[tuple[str, str]]:
    out = []
    for lang, stopset in (("en", ENGLISH), ("es", SPANISH), ("pt", PORTUGUESE)):
        out.extend(
            (w, lang)
            for w in sorted(x for x in stopset if x and " " not in x and x.isascii())
        )
    return out


def langid(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword heuristic language ID: distinct words matched against
    each language's stopword list; argmax with (en, es, pt) tie order, 'und'
    when nothing matches.

    Plan shape (round 7): fully ROW-LOCAL — the three stopword lists ride
    in as array columns of a broadcast ONE-ROW table (no giant literal
    arrays bloating the serialized plan, same concern as before) and the
    per-doc hit counts are size(array_intersect(distinct_words, lang_set)).
    The round-6 explode → join → groupBy → join-back form shuffled every
    distinct word of the corpus to count hits; this shuffles nothing."""
    from ..util import local_df

    spark = docs.sparkSession
    sets: dict[str, list[str]] = {"en": [], "es": [], "pt": []}
    for w, lang in _lang_rows():
        sets[lang].append(w)
    stop_row = F.broadcast(
        local_df(
            spark,
            [(sets["en"], sets["es"], sets["pt"])],
            "_en array<string>, _es array<string>, _pt array<string>",
        )
    )
    dw = F.array_distinct(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " +")
    )
    d = docs.select("doc_id", dw.alias("_dw")).crossJoin(stop_row)
    d = d.select(
        "doc_id",
        F.size(F.array_intersect("_dw", "_en")).cast("long").alias("en_hits"),
        F.size(F.array_intersect("_dw", "_es")).cast("long").alias("es_hits"),
        F.size(F.array_intersect("_dw", "_pt")).cast("long").alias("pt_hits"),
    )
    best = F.greatest("en_hits", "es_hits", "pt_hits")
    pred = (
        F.when(best == 0, "und")
        .when(F.col("en_hits") == best, "en")
        .when(F.col("es_hits") == best, "es")
        .otherwise("pt")
    )
    return d.select("doc_id", "en_hits", "es_hits", "pt_hits", pred.alias("lang_pred"))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality features + combined score:
    length, word count, mean word length, stopword ratio, digit ratio.

    Stopword matching (round 7): row-local size(array_intersect) against
    the stopword list riding in as an array column of a broadcast one-row
    table (no ~570-element literal array bloating every task's serialized
    plan, and — unlike the round-6 explode → join → groupBy → join-back —
    no shuffle of the corpus's distinct words at all)."""
    from ..util import local_df

    spark = docs.sparkSession
    stop_row = F.broadcast(
        local_df(
            spark,
            [(sorted(x for x in ENGLISH if " " not in x and x.isascii()),)],
            "_stop array<string>",
        )
    )
    words = F.split(F.trim(F.col(text_col)), " +")
    base = docs.select(
        "doc_id",
        F.col(text_col).alias("_t"),
        F.array_distinct(words).alias("_dw"),
        F.length(text_col).cast("long").alias("n_chars_c"),
        F.size(words).cast("long").alias("n_words"),
    )
    d = (
        base.crossJoin(stop_row)
        .withColumn(
            # greatest(…, 0): size() is -1 on a null array (null text_col);
            # the old join-based count reported 0 there
            "_n_stop",
            F.greatest(
                F.size(F.array_intersect("_dw", "_stop")), F.lit(0)
            ).cast("long"),
        )
        .withColumn(
            "stop_ratio_e6",
            F.round(
                F.col("_n_stop") * 1e6 / F.greatest(F.size("_dw"), F.lit(1))
            ).cast("long"),
        )
        .withColumn(
            "digit_ratio_e6",
            F.round(
                F.length(F.regexp_replace(F.col("_t"), "[^0-9]", ""))
                * 1e6
                / F.greatest(F.length("_t"), F.lit(1)),
            ).cast("long"),
        )
        .withColumn(
            "mean_word_len_e6",
            F.round(
                (F.length(F.regexp_replace(F.col("_t"), " ", "")))
                * 1e6
                / F.greatest(F.col("n_words"), F.lit(1)),
            ).cast("long"),
        )
    )
    return d.select(
        "doc_id", "n_chars_c", "n_words", "stop_ratio_e6", "digit_ratio_e6",
        "mean_word_len_e6",
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals for training-data quality filtering
    (Rae et al. 2021 §A1.1): per document —

    - n_lines / dup_line_frac_e6 / dup_line_char_frac_e6: how much of the
      document is literally repeated lines (boilerplate, navigation chrome,
      chat-log echo). Lines are newline-split, trimmed, empties dropped.
    - top_word_frac_e6 / top_2gram_frac_e6 / top_3gram_frac_e6: the fraction
      of all n-grams occupied by the single most frequent n-gram (degenerate
      generation loops, keyword stuffing). Words are whitespace-split of the
      lowercased text (n-grams may span lines).

    Plan shape: the line stats are ROW-LOCAL higher-order functions (zero
    shuffle; the O(lines²) duplicate probe is bounded by the 10k-char doc
    truncation this engine indexes, T15). The n-gram stats explode once into
    (doc_id, n, gram) and aggregate — partial map-side combine, spillable,
    the same shape at 100 TB; a row-local count-by-value would be O(words²)
    per row which does NOT survive long documents. Grams are xxhash64'd
    ROW-LOCALLY before the explode: only (long, int, long) rows ever reach
    the exchange — measured 4.2 GB → ~1.6 GB shuffle at 309k docs — and the
    frequency ratios never need the gram text (a 2⁻⁶⁴ same-doc hash
    collision could merge two gram counts; at any realistic doc size the
    probability is ≪ 1e-12).

    All ratios are e6-scaled longs (cross-engine hash-stable, same
    convention as quality_score)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
        lambda l: F.length(l) > 0,
    )
    words = F.filter(F.split(F.lower(t), "[ \n]+"), lambda w: F.length(w) > 0)
    base = docs.select("doc_id", lines.alias("_ls"), words.alias("_w"))
    # gram identity = pairwise xxhash64 over the PER-TOKEN hashes (round 7):
    # the n-gram text is never needed (only frequency ratios leave this
    # operator), so building n·wordlen-byte strings per window just to hash
    # them was pure cost. The token array and its hash array are real
    # projection steps so the tokenizer runs once, not once per slice
    # operand. Same 2⁻⁶⁴ same-doc collision caveat as before.
    hbase = base.select(
        "doc_id",
        F.size("_w").alias("_nw"),
        F.transform("_w", lambda x: F.xxhash64(x)).alias("_th"),
    )

    def gram_ids(n: int):
        th = F.col("_th")
        if n == 1:
            return th
        win_len = F.greatest(F.col("_nw") - (n - 1), F.lit(0))
        parts = [F.slice(th, i + 1, win_len) for i in range(n)]
        g = parts[0]
        for p in parts[1:]:
            g = F.zip_with(g, p, lambda a, b: F.xxhash64(a, b))
        return g

    def tag(n: int):
        # NOT a two-arg lambda with a default: F.transform hands a 2-arg
        # callable (element, index) — a `lambda x, n=n:` would silently
        # receive the array INDEX as n.
        def f(x):
            return F.struct(F.lit(n).alias("n"), x.alias("g"))

        return f

    tagged = F.flatten(
        F.array(*[F.transform(gram_ids(n), tag(n)) for n in (1, 2, 3)])
    )
    ex = hbase.select("doc_id", F.explode(tagged).alias("t")).select(
        "doc_id", "t.n", "t.g"
    )
    per_n = (
        ex.groupBy("doc_id", "n", "g")
        .count()
        .groupBy("doc_id", "n")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
    )
    fr = per_n.select(
        "doc_id", "n", F.round(F.col("mx") * 1e6 / F.col("tot")).cast("long").alias("f")
    )
    piv = fr.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("f"))).alias("top_word_frac_e6"),
        F.max(F.when(F.col("n") == 2, F.col("f"))).alias("top_2gram_frac_e6"),
        F.max(F.when(F.col("n") == 3, F.col("f"))).alias("top_3gram_frac_e6"),
    )
    dupchars = F.aggregate(
        F.filter(
            F.col("_ls"),
            lambda l: F.size(F.filter(F.col("_ls"), lambda x: x == l)) > 1,
        ),
        F.lit(0).cast("long"),
        lambda acc, l: acc + F.length(l),
    )
    totchars = F.aggregate(
        F.col("_ls"), F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    lstats = base.select(
        "doc_id",
        F.size("_ls").cast("long").alias("n_lines"),
        F.round(
            (F.size("_ls") - F.size(F.array_distinct("_ls")))
            * 1e6
            / F.greatest(F.size("_ls"), F.lit(1))
        )
        .cast("long")
        .alias("dup_line_frac_e6"),
        F.round(dupchars * 1e6 / F.greatest(totchars, F.lit(1)))
        .cast("long")
        .alias("dup_line_char_frac_e6"),
    )
    return (
        lstats.join(piv, "doc_id", "left")
        .fillna(0, ["top_word_frac_e6", "top_2gram_frac_e6", "top_3gram_frac_e6"])
        .select(
            "doc_id", "n_lines", "dup_line_frac_e6", "dup_line_char_frac_e6",
            "top_word_frac_e6", "top_2gram_frac_e6", "top_3gram_frac_e6",
        )
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per doc (training-data token
    accounting)."""
    # regexp_count, not size(regexp_extract_all(...)): the count never
    # needs the matched token strings materialized as an array per row
    # (measured 21→? s on mixture_summary's identical pattern at 309k)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col(text_col)), " +")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN))
        .cast("long")
        .alias("bpe_tokens"),
    )


def token_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token-budget histogram: docs and BPE-ish tokens per power-of-two
    length bucket (bucket = floor(log2(tokens + 1)), so bucket 5 = 31-62
    tokens). The per-doc accounting a 100-TB training-data pipeline runs
    before sampling/packing decisions. Computed INTEGER-EXACTLY via binary
    string length, not floating log2 — floor(log(x)/log(2)) differs by one
    ulp across engines at exact powers of two."""
    tc = token_counts(docs, text_col)
    bucket = (F.length(F.bin(F.col("bpe_tokens") + 1)) - 1).cast("long")
    return (
        tc.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
        )
        .orderBy("bucket")
    )


def filter_documents(
    docs: DataFrame, text_col: str = "text",
    min_words: int = 5, max_words: int = 100_000,
    max_top_word_frac: float = 0.25, max_top_2gram_frac: float = 0.20,
    max_dup_line_frac: float = 0.30,
) -> DataFrame:
    """Composable quality gate over the stat operators above (the
    Gopher/C4-style keep/drop pass of a training-data pipeline): each doc
    gets `keep` plus the FIRST failing rule as `reason` (fixed rule order,
    so the report is deterministic). Thresholds are fractions; comparison
    happens on the e6-scaled longs to stay hash-stable cross-engine.

    One pass per underlying stat frame (quality_score + repetition_stats),
    joined on doc_id — the joins are doc_id-partitioned aggregates, so at
    scale this is two shuffled aggs and a co-partitioned join, no extra
    full-text pass."""
    q = quality_score(docs, text_col).select("doc_id", "n_words", "stop_ratio_e6")
    r = repetition_stats(docs, text_col).select(
        "doc_id", "top_word_frac_e6", "top_2gram_frac_e6", "dup_line_frac_e6"
    )
    j = q.join(r, "doc_id")
    reason = (
        F.when(F.col("n_words") < min_words, "too_few_words")
        .when(F.col("n_words") > max_words, "too_many_words")
        .when(
            F.col("top_word_frac_e6") > int(round(max_top_word_frac * 1e6)),
            "top_word_repetition",
        )
        .when(
            F.col("top_2gram_frac_e6") > int(round(max_top_2gram_frac * 1e6)),
            "top_2gram_repetition",
        )
        .when(
            F.col("dup_line_frac_e6") > int(round(max_dup_line_frac * 1e6)),
            "dup_lines",
        )
    )
    return j.select(
        "doc_id", reason.isNull().alias("keep"), reason.alias("reason")
    )


def fingerprint(
    docs: DataFrame, text_col: str = "text", k: int = 4,
    shuffle_safe: bool = False,
) -> DataFrame:
    """Bottom-k sketch fingerprint over 8-char shingles (winnowing-style):
    fp = concat of the k smallest distinct md5(shingle) values — robust to
    small edits. Fully JVM-side either way (no Python anywhere):

    - default: ROW-LOCAL higher-order-function plan — transform the shingle
      positions to md5 hashes inside the row, array_distinct → array_sort →
      slice → concat. Zero explode, zero shuffle, whole-stage codegen;
      per-row memory is O(doc length), fine up to the 10k-char truncated
      docs this engine indexes.
    - shuffle_safe=True: explode + window dense_rank bottom-k — one shuffle
      with a SPILLABLE sort, bounded executor memory even for pathological
      multi-hundred-MB single documents. Same results."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    if not shuffle_safe:
        hashes = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - 8, F.lit(0)) + F.lit(1)),
            lambda i: F.md5(F.substr(t, i, F.lit(8))),
        )
        return docs.select(
            "doc_id",
            F.concat_ws(
                "", F.slice(F.array_sort(F.array_distinct(hashes)), 1, k)
            ).alias("fp"),
        )
    sh = (
        docs.select("doc_id", t.alias("_t"))
        .select(
            "doc_id",
            "_t",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("_t") - 8, F.lit(0)) + F.lit(1)
                )
            ).alias("i"),
        )
        .select("doc_id", F.md5(F.expr("substring(_t, i, 8)")).alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        sh.withColumn("_r", F.dense_rank().over(w))
        .filter(F.col("_r") <= k)
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.array_sort(F.collect_set("h"))).alias("fp"))
    )


def _word_grams(text_col, n: int):
    """Row-local n-token shingle array (occurrences, not distinct) of the
    lowercased ws-split text — the same tokenization as repetition_stats."""
    w = F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), "[ \n]+"),
        lambda x: F.length(x) > 0,
    )
    if n == 1:
        grams = w
    else:
        parts = [
            F.slice(w, i + 1, F.greatest(F.size(w) - (n - 1), F.lit(0)))
            for i in range(n)
        ]
        grams = parts[0]
        for p in parts[1:]:
            grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngrams(
    docs: DataFrame, n: int = 3, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k n-grams by occurrence count — the boilerplate /
    template-discovery pass of a training-data pipeline (what you run
    BEFORE writing dedup and filter rules, to see what actually repeats).

    Two-phase heavy-hitter shape (the 100-TB-safe plan, same reasoning as
    repetition_stats' pre-shuffle hashing):
      1. count xxhash64'd grams — the full gram stream shuffles as bare
         (long) rows with map-side partial combine, never gram text;
         the k-th highest count c* is a bounded k-row driver action
         (model-sized, like a centroid collect).
      2. re-derive grams WITH text, broadcast-semi-join to the candidate
         hash set (everything with count ≥ c*, so a tie at the boundary
         never silently drops a gram), and count exactly by text — only
         candidate-gram rows survive to this tiny aggregation.
    Final order (cnt DESC, gram ASC) is total, so the LIMIT k cut is
    deterministic and cross-engine stable. A 2⁻⁶⁴ hash collision could
    inflate one phase-1 count (affecting only the boundary cut, not the
    reported counts, which phase 2 recomputes from text).

    Output: (gram, cnt), k rows (fewer if the corpus has fewer grams).
    """
    # NOTE (round 7): a pairwise-token-hash phase-1 identity (the
    # spandedup/repetition trick) was measured SLOWER here at 309k docs
    # (67.8 s vs 41.4 s): splitting the fused gram expression into stacked
    # projections materializes the full token/hash arrays between steps,
    # and that copying outweighs the string construction it saves when the
    # chain is only evaluated once per phase. The fused string form stays.
    grams = _word_grams(F.col(text_col), n)
    hashed = docs.select(
        F.explode(F.transform(grams, lambda g: F.xxhash64(g))).alias("g")
    )
    # checkpoint: the hashed count table feeds the k-th-count driver action
    # AND the candidate filter — unmaterialized, the gram explode + exchange
    # ran twice (actions cannot share shuffles). The table is
    # distinct-gram-sized bare longs; at any scale that is cheaper than a
    # second full text pass.
    cnt = hashed.groupBy("g").agg(F.count("*").alias("cnt"))
    cnt = cnt.localCheckpoint(eager=False)
    kth = cnt.orderBy(F.desc("cnt")).limit(k).agg(F.min("cnt")).collect()[0][0]
    if kth is None:
        from ..util import local_df

        return local_df(docs.sparkSession, [], "gram string, cnt long")
    cand = cnt.filter(F.col("cnt") >= kth).select("g")
    with_text = docs.select(F.explode(grams).alias("gram")).withColumn(
        "g", F.xxhash64("gram")
    )
    return (
        with_text.join(F.broadcast(cand), "g", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )


def top_ngrams_approx(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    p: float = 0.05,
    cand_factor: int = 4,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """`top_ngrams` behind a sampled candidate pass — the dial past the
    exact operator's shuffle floor (BASELINE.md: an EXACT corpus-wide
    heavy hitter must exchange every distinct gram's count once; at
    309k docs that floor is 1.4 GB and it grows with the corpus).

    Two-pass shape:
      1. CANDIDATES from a deterministic occurrence-level sample: each
         (doc, pos, gram) occurrence is kept iff
         uniform32(md5(seed|doc_id:pos:gram)) < p·2³² (the repo's
         engine-portable sampling convention, operators/sampling.py) —
         row-local, rerun-stable, replayed verbatim by the DuckDB
         oracle. Only the sampled p-fraction of the gram stream
         shuffles (as bare xxhash64 longs with map-side combine). The
         candidate set is everything tied with the (cand_factor·k)-th
         highest sampled count.
      2. EXACT counts for candidates only: re-derive grams with text,
         broadcast-semi-join to the candidate hash set, count, take k.

    Reported counts are therefore EXACT; the approximation is only in
    candidate selection — a true top-k gram is missed only if its
    sampled count falls below the candidate boundary (occurrence
    sampling keeps every heavy hitter w.h.p.: a gram with c occurrences
    retains Binomial(c, p) ≥ 1 samples with prob 1-(1-p)^c, and the
    cand_factor·k cushion absorbs sampling noise near the boundary).
    With the default p=0.05 the phase-1 exchange is 5% of the exact
    operator's; equality with `top_ngrams` at a given corpus is an
    attestable property (see scripts/corpus_ops_scale.py).

    Deterministic for a given (seed, p): membership depends on row
    content only, never on partitioning or execution order, so the
    result is stable across reruns, resumes, and cluster sizes.

    Output: (gram, cnt), ordered (cnt DESC, gram ASC), ≤ k rows.
    """
    from .sampling import uniform32_col

    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    grams = _word_grams(F.col(text_col), n)
    occ = docs.select(
        F.col(id_col).cast("string").alias("_id"),
        F.posexplode(grams).alias("pos", "gram"),
    )
    key = F.concat_ws(":", F.col("_id"), F.col("pos"), F.col("gram"))
    sampled = occ.filter(
        uniform32_col(key, seed) < int(round(p * 2**32))
    ).select(F.xxhash64("gram").alias("g"))
    # checkpoint: feeds the boundary action AND the candidate filter (the
    # reuse rule in util.py); sample-count-sized bare longs
    scnt = sampled.groupBy("g").agg(F.count("*").alias("cnt"))
    scnt = scnt.localCheckpoint(eager=False)
    boundary = (
        scnt.orderBy(F.desc("cnt"))
        .limit(cand_factor * k)
        .agg(F.min("cnt"))
        .collect()[0][0]
    )
    if boundary is None:
        from ..util import local_df

        return local_df(docs.sparkSession, [], "gram string, cnt long")
    cand = scnt.filter(F.col("cnt") >= boundary).select("g")
    with_text = docs.select(F.explode(grams).alias("gram")).withColumn(
        "g", F.xxhash64("gram")
    )
    return (
        with_text.join(F.broadcast(cand), "g", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )


def mixture_summary(
    docs: DataFrame,
    by: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Training-mix accounting: docs and BPE-ish tokens per domain stratum
    (source × language by default), with each stratum's share of corpus
    tokens as an e6-scaled long — the table a pipeline reads to set
    sampling weights ("2 epochs of wiki, 0.3 of CC") before packing.

    One shuffled aggregation (partial map-side combine) plus a broadcast
    of the single-row corpus total — no second text pass, no window over
    an unpartitioned frame (a sum() OVER () would single-partition the
    stratum table; a 100-TB corpus can have millions of strata)."""
    tc = docs.select(
        *by,
        F.regexp_count(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(TOKEN_PATTERN),
        )
        .cast("long")
        .alias("_toks"),
    )
    per = tc.groupBy(*by).agg(
        F.count("*").alias("n_docs"), F.sum("_toks").alias("bpe_tokens")
    )
    tot = per.agg(F.sum("bpe_tokens").alias("_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        *by,
        "n_docs",
        "bpe_tokens",
        F.round(F.col("bpe_tokens") * 1e6 / F.col("_tot"))
        .cast("long")
        .alias("token_share_e6"),
    )
