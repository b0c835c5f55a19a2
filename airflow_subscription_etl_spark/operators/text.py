"""Text-analysis operators for LLM-data pipelines (north star; SURVEY.md §7.6).

All pure-DataFrame (JVM regex/string functions — whole-stage codegen,
no Python in the hot path), so at 100 TB they are embarrassingly
parallel map work: no shuffle, filters push to the scan, and only the
projected columns are read from parquet.

Operators: token counting, quality scoring, language ID (stopword
heuristic), document fingerprinting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language stopword marker sets for the heuristic language ID.
#: Deliberately word-boundary-matchable so the same logic is expressible
#: in the DuckDB oracle.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "es", "una"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    return F.split(F.trim(col), r"\s+")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars,
    mean token length."""
    t = tokens(F.col(text_col))
    return df.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars_computed"),
        (F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
         / F.size(t)).alias("mean_token_len"),
    )


#: BPE-ish pre-tokenizer: the GPT-2-style split classes — contraction
#: suffixes, letter runs, digit runs, other-symbol runs — restricted to
#: the regex subset Java (Spark) and RE2 (DuckDB) evaluate identically:
#: explicit char classes, ordered alternation, no lookaround (RE2 has
#: none, so GPT-2's trailing-space lookahead is dropped). Whitespace is
#: a separator, not a token.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"


def bpe_ish_tokens(col: Column) -> Column:
    """Subword-style tokens per :data:`BPE_ISH_PATTERN` → array<string>.

    Real BPE applies learned merges to these pre-tokens; for corpus
    budgeting, the pre-token count is the standard cheap proxy (true
    token count = pre-tokens × a near-constant fertility per language).
    Pure JVM ``regexp_extract_all`` — map-only, no UDF.
    """
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def with_bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting, BPE-ish flavor: subword-style token count next
    to the whitespace word count, plus their ratio (tokens-per-word
    "fertility" — the number that converts corpus word counts into
    model token budgets)."""
    bpe = bpe_ish_tokens(F.col(text_col))
    ws = tokens(F.col(text_col))
    staged = df.select(
        "doc_id", F.size(bpe).alias("n_bpe_tokens"), F.size(ws).alias("n_words")
    )
    return staged.select(
        "doc_id",
        "n_bpe_tokens",
        "n_words",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words"))
        .alias("fertility"),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio,
    uppercase ratio → a [0,1] composite.

    The exact weighting is a policy choice; what matters at scale is
    that every signal is a codegen'd expression over one column read.
    """
    c = F.col(text_col)
    n = F.length(c).cast("double")
    # char-class counts via translate-delete (length delta) — literal
    # character tables, no regex engine in the hot path
    n_punct = (n - F.length(F.translate(c, ".,;:!?", ""))).cast("double")
    n_upper = (
        n - F.length(F.translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", ""))
    ).cast("double")
    toks = tokens(c)
    n_tok = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(*LANG_MARKERS["en"]))
    ).cast("double")
    punct_ratio = F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))
    upper_ratio = F.when(n > 0, n_upper / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    length_score = F.least(n / F.lit(500.0), F.lit(1.0))
    # two-stage select (r14, guide §1.2 per-task work — the
    # with_bpe_token_stats pattern): the composite reads the staged
    # ratio COLUMNS, so each signal — the tokenize+HOF stopword filter
    # especially, which evaluates interpreted, outside codegen's
    # subexpression elimination — runs once per row, not once per
    # reference. CollapseProject keeps the stage boundary: it only
    # re-inlines aliases that are cheap or referenced once, and these
    # are neither. The composite is algebraically identical: a zero
    # ratio contributes exactly the old CASE's ELSE constant.
    staged = df.select(
        "doc_id",
        punct_ratio.alias("punct_ratio"),
        upper_ratio.alias("upper_ratio"),
        stop_ratio.alias("stopword_ratio"),
        length_score.alias("length_score"),
    )
    quality = (
        F.lit(0.4) * F.col("length_score")
        + F.lit(0.3) * (F.lit(1.0) - F.col("punct_ratio"))
        + F.lit(0.2) * (F.lit(1.0) - F.col("upper_ratio"))
        + F.lit(0.1) * F.col("stopword_ratio")
    )
    return staged.select(
        "doc_id",
        "punct_ratio",
        "upper_ratio",
        "stopword_ratio",
        "length_score",
        quality.alias("quality_score"),
    )


def marker_hits(col: Column, words: list[str]) -> Column:
    """Count of marker-word occurrences via word-boundary regex."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(0)))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits;
    'und' (undetermined) when nothing matches.

    Deterministic tie-break: language key ascending — required so the
    Spark plan and the SQL oracle agree bit-for-bit.
    """
    hit_cols = {
        lang: marker_hits(F.col(text_col), words) for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    # iterate langs in sorted order; first argmax wins
    for lang in sorted(LANG_MARKERS):
        pred = F.when(
            (pred == "und") & (best > 0) & (hit_cols[lang] == best), F.lit(lang)
        ).otherwise(pred)
    out = df.select(
        "doc_id",
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in sorted(LANG_MARKERS)],
        pred.alias("lang_pred"),
    )
    return out


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: md5 over the normalized text
    (lowercased, non-alphanumerics stripped) — robust to whitespace/
    punctuation/casing jitter, exact elsewhere.

    For a locality-sensitive (rolling-hash) fingerprint see
    :mod:`.dedup` (simhash / minhash).
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
    return df.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
    )


#: Redaction patterns for corpus cleaning. Deliberately simple,
#: deterministic regexes (JVM regexp_replace — no Python in the path);
#: production pipelines would swap in stricter patterns behind the
#: same column expression.
SCRUB_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{3}[-.\s]\d{3}[-.\s]\d{4}\b", "<PHONE>"),
]


def with_scrubbed(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrubbed text plus redaction counts for pipeline monitoring.

    Each pattern is counted on the text it is actually applied to (the
    intermediate after the previous replacements), so ``n_redactions``
    equals the number of replacements performed — robust to source text
    that already contains ``<EMAIL>``/``<URL>``/``<PHONE>`` literals
    (which a sentinel-split count would miscount). Null text yields
    null scrubbed and 0 redactions.
    """
    cur = F.col(text_col)
    counts = []
    for pat, repl in SCRUB_PATTERNS:
        counts.append(F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0)))
        cur = F.regexp_replace(cur, pat, repl)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return df.withColumn("scrubbed", cur).withColumn("n_redactions", total)


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/quality signals per document (Rae et al.
    2021 §A1.1 "repetition filters", adapted to word granularity — the
    corpus has no line structure): type–token ratio, most-common-word
    mass, duplicate-bigram fraction, longest consecutive same-word run,
    and mean word length. The standard pre-training corpus filters
    ("remove docs whose top word is >20% of tokens", "whose dup-2gram
    mass is >X%", …) are thresholds over exactly these columns.

    Plan — ONE corpus scan, ONE exchange: every per-row annotation
    (bigram lead, run id, run length, word count) is a window over a
    ``(doc_id, …)`` partitioning, and ``HashPartitioning(doc_id)``
    satisfies every such clustering requirement, so all four window
    specs plus the final per-doc aggregate share a single shuffle of
    the token stream (sorts chain, no re-exchange, no re-scan — a
    branch-and-rejoin formulation re-reads the corpus per branch).
    Top word = ``min(struct(-count, word))`` (argmax with count-desc,
    word-asc tiebreak as one order-free aggregate). All ratios are
    exact int/int divisions, engine-portable bit-for-bit.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "w")
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    w_word = Window.partitionBy(id_col, "w").orderBy("pos")
    t2 = toks.select(
        id_col,
        "pos",
        "w",
        F.lead("w").over(w_doc).alias("w2"),
        (F.col("pos") - F.row_number().over(w_word)).alias("grp"),
    )
    t3 = t2.select(
        id_col,
        "w",
        "w2",
        F.count(F.lit(1)).over(Window.partitionBy(id_col, "w", "grp")).alias("run_len"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col, "w")).alias("word_cnt"),
    )
    agg = t3.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.count_distinct("w").alias("n_distinct_words"),
        F.sum(F.length("w")).alias("sum_word_len"),
        F.count("w2").alias("n_bigrams"),
        F.count_distinct(
            F.when(F.col("w2").isNotNull(), F.concat_ws(" ", "w", "w2"))
        ).alias("n_distinct_bigrams"),
        F.max("run_len").alias("max_word_run"),
        F.min(F.struct((-F.col("word_cnt")).alias("nc"), F.col("w").alias("w"))).alias(
            "_top"
        ),
    )
    return agg.select(
        id_col,
        "n_words",
        (
            F.col("n_distinct_words").cast("double") / F.col("n_words").cast("double")
        ).alias("type_token_ratio"),
        F.col("_top.w").alias("top_word"),
        (
            (-F.col("_top.nc")).cast("double") / F.col("n_words").cast("double")
        ).alias("top_word_frac"),
        (
            F.lit(1.0)
            - F.col("n_distinct_bigrams").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("dup_bigram_frac"),
        "max_word_run",
        (F.col("sum_word_len").cast("double") / F.col("n_words").cast("double")).alias(
            "mean_word_len"
        ),
    )


def bigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean log-likelihood under the corpus's own bigram
    MLE model — the classic "perplexity filter" signal for pre-training
    corpora (docs scoring far below the corpus mean are boilerplate or
    noise), self-trained so no external model artifact is needed.

    p(w2|w1) = c(w1 w2) / c(w1), both counts over the whole corpus; the
    per-doc score is the mean of log p over its bigrams. Every doc
    bigram occurs in the corpus (it contributed to the counts), so the
    MLE probability is never zero and no backoff is needed.

    Determinism: each log p is quantized to integer MICROS before the
    per-doc sum, so aggregation is exact integer math under any
    partitioning/engine (a raw double sum would differ by summation
    order); the mean is one final division of identical operands.

    Plan: two count-aggs over the token stream (shuffles keyed on
    bigram/unigram — Zipf-skewed, but partial aggregation collapses
    each hot key map-side), one bigram-keyed join of doc bigrams to the
    model, one doc-keyed re-agg. Counts tables at 100 TB are
    vocab-sized, not corpus-sized.
    """
    # Bigrams are generated MAP-SIDE from the staged token array
    # (zip_with of the array against its own 1-shifted slice) instead
    # of posexplode + a lead() window (r15, guide §2.4): the window
    # form paid a corpus-scale doc-keyed Exchange + (doc, pos) sort
    # whose only purpose was to look one token ahead — information the
    # token array already holds in-row. zip_with pads the shorter
    # slice with NULL, so the final token's pair drops on the same
    # w2-IS-NULL filter the lead() form used; the emitted (doc, w1,
    # w2) multiset is identical. The array is staged as a projection
    # column (referenced three times — CollapseProject keeps
    # non-cheap multi-referenced aliases staged, the r14 HOF lesson).
    arr = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    bigrams = (
        arr.select(
            F.col(id_col),
            F.explode(
                F.zip_with(
                    F.col("_t"),
                    F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("_bg"),
        )
        .filter(F.col("_bg.w2").isNotNull())
        .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )
    # c(w1 w2) as a WINDOW over the bigram stream instead of a count-agg
    # joined back — the join formulation re-scans the corpus for the
    # model side; the window shares one shuffle with the scoring rows.
    # c(w1) is a vocab-sized aggregate (one extra scan of the token
    # stream, output ~|vocab| rows) and joins back via broadcast.
    c1 = arr.select(F.explode("_t").alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    scored = (
        bigrams.withColumn(
            "c12", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
        )
        .join(F.broadcast(c1), "w1")
        .select(
            id_col,
            F.round(
                F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("logp_micro"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_micro").alias("logp_micro_sum"),
        )
        .select(
            id_col,
            "n_bigrams",
            "logp_micro_sum",
            (
                F.col("logp_micro_sum").cast("double")
                / (F.col("n_bigrams").cast("double") * F.lit(1_000_000.0))
            ).alias("avg_logprob"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k wrapper over :func:`bm25_scores` (global TakeOrdered on
    the micro score, ties → id)."""
    return (
        bm25_scores(df, terms, k1, b, id_col, text_col)
        .orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword scoring over the corpus (Robertson–Spärck Jones):
    every matching doc's score for a bag of query terms — the
    lexical-retrieval counterpart to the embedding scorers. Top-k
    retrieval is :func:`bm25_topk`; rank-fusion pipelines consume the
    UNLIMITED frame (ranks via ``distributed_prefix_sum``, never a
    huge-k TakeOrdered).

    Determinism for oracle parity: idf is micro-quantized after the log
    (engine libm rounding dies there) and each term's whole
    contribution is micro-quantized before the per-doc sum, so
    aggregation is exact integer math in any engine/partitioning.

    Plan — two corpus scans total: (1) the token explode filtered TO
    THE QUERY TERMS right at the scan, carrying the doc length as a
    per-row column (computed map-side from the same split — no second
    granularity, no doclen re-join of the corpus); (2) a scalar
    single-row aggregate for N and avg length. tf/df/doclen all derive
    from scan (1)'s one (doc, term) shuffle; df and the scalar stats
    are broadcast back.
    """
    if not terms:
        raise ValueError(
            "terms must be non-empty: BM25 over an empty query bag is "
            "undefined (and an empty isin() degrades unhelpfully)"
        )
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col), F.size("_t").alias("dl"), F.explode("_t").alias("w")
    )
    stats = df.select(F.size(tokens(F.col(text_col))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    hits = toked.filter(F.col("w").isin(*terms))
    # df(term) as a window over the (doc, term) tf rows — an agg-and-
    # join-back would re-derive (and re-scan) the tf subtree
    tf = (
        hits.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("w")))
    )
    # idf quantized to micros right after the log
    idf_q = (
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(1_000_000.0)
        ).cast("bigint")
        / F.lit(1_000_000.0)
    )
    avg_dl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    contrib = (
        tf.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.round(
                idf_q
                * (
                    F.col("tf").cast("double")
                    * F.lit(k1 + 1.0)
                    / (
                        F.col("tf").cast("double")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl").cast("double") / avg_dl
                        )
                    )
                )
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    return contrib.groupBy(id_col).agg(
        F.sum("score_micro").alias("score_micro")
    ).select(
        id_col,
        "score_micro",
        (F.col("score_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "bm25_score"
        ),
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon character entropy per document — the cheap gibberish /
    binary-spill / mojibake screen of corpus quality filtering (low
    entropy ⇒ repeated filler, high entropy ⇒ random bytes).

    Per-character frequencies come from one partial-aggregated groupBy
    keyed (doc, char) — shuffle rows bounded by |distinct chars per
    doc| ≤ alphabet size, NOT document length, so 100 TB of text
    shuffles a few hundred rows per document. Each frequency's
    ``-p·log2(p)`` term is quantized to integer micros BEFORE the
    per-doc sum (exact integer addition in any summation order — the
    bigram_lm_scores trick), making the result bit-stable across
    engines and cluster sizes.
    """
    chars = df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.explode(F.split(text_col, "")).alias("ch"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy(id_col, "n_chars", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c").cast("double") / F.col("n_chars").cast("double")
    term_micro = F.round(-p * F.log2(p) * F.lit(1_000_000.0)).cast("bigint")
    return (
        freq.withColumn("term_micro", term_micro)
        .groupBy(id_col, "n_chars")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.sum("term_micro").alias("entropy_micro"),
        )
        .withColumn(
            "entropy_bits",
            F.col("entropy_micro").cast("double") / F.lit(1_000_000.0),
        )
    )


def term_vector_udtf():
    """Python UDTF (Spark 4 user-defined TABLE function) emitting one
    ``(doc_id, word, cnt)`` row per distinct word of a document — the
    set-returning-function API surface, registered for SQL ``LATERAL``
    use.

    This exists for API parity, and the semantics are verified against
    a DuckDB oracle — but note the posture: a Python UDTF is a
    row-at-a-time Python-process hop, the SLOW path. The same term
    vector is expressible JVM-side as
    ``explode(split(...)) → groupBy`` (see queries.doc_vocab_topk);
    prefer that in any hot path. Use a UDTF only for set-returning
    logic the built-ins genuinely cannot express (recursive descent,
    stateful per-row expansion, external library calls).
    """
    from collections import Counter  # noqa: PLC0415

    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="doc_id: bigint, word: string, cnt: bigint")
    class TermVector:
        def eval(self, doc_id, text):  # noqa: ANN001
            if text is None:
                return
            for w, c in sorted(Counter(text.split()).items()):
                yield doc_id, w, c

    return TermVector


def feature_hashing(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """The hashing trick: project an unbounded vocabulary into a fixed
    ``num_buckets``-dimensional sparse count vector per document — the
    constant-memory featurizer for linear models / fast similarity at
    corpus scale (no vocabulary dictionary to build, broadcast, or keep
    consistent across training runs).

    Bucket ids come from the PORTABLE md5-based 60-bit hash
    (sketch.hash60), not Spark's xxhash64, so the exact bucketing is
    reproducible in any engine (and DuckDB-oracle-checkable). One
    explode + one partial-aggregated groupBy keyed (doc, bucket):
    shuffle rows per doc ≤ min(tokens, buckets).

    ``carry_cols`` rides per-document attributes (a label, a target
    flag) THROUGH the groupBy as extra grouping keys instead of joining
    them back afterwards — free because they are functionally dependent
    on ``id_col``, and it saves the consumers (dsir_sample,
    nb_classify) a doc-keyed shuffle join each.
    """
    from .sketch import hash60  # noqa: PLC0415

    carry = [F.col(c) for c in carry_cols]
    toks = df.select(
        F.col(id_col), *carry, F.explode(tokens(F.col(text_col))).alias("w")
    )
    return (
        toks.withColumn("bucket", (hash60(F.col("w")) % num_buckets).cast("int"))
        .groupBy(id_col, *carry_cols, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def nb_classifier_eval(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
    train_bp: int = 8000,
) -> DataFrame:
    """Train a multinomial Naive Bayes text classifier IN the engine
    and evaluate it on a held-out split, returning the confusion matrix
    — the model-based quality/domain filter every curation pipeline
    runs (CCNet/fastText-style), expressed as pure aggregations so the
    whole train→score→evaluate loop is one declarative plan with no
    driver-side learning step.

    - Split: content-keyed (md5 of ``text_col``, sampling.hash_bucket
      semantics) — ``train_bp``/10000 of docs train, the rest evaluate;
      exact duplicates land in the same split so eval can't leak.
    - Train: per-(class, bucket) hashed-unigram counts with add-1
      smoothing — the model is a DENSE classes×``num_buckets`` table
      (classes seen in train × all buckets, so test-only buckets score
      the smoothed floor), small enough to broadcast at any corpus
      size. Every ln is micro-quantized at the leaf (the zipf-fit
      convention), so scores are exact integers.
    - Score: test doc-bucket counts ⋈ broadcast model → per-(doc,
      class) log-likelihood Σ n_b·lnP(b|c) + lnP(c); argmax per doc
      with (score desc, class asc) tiebreak via an integer min-struct.
    - Evaluate: groupBy (true, predicted) counts.

    Scale: one corpus shuffle to featurize, then doc-keyed aggs whose
    width is |classes|; the model and priors are broadcast-sized by
    construction. Test docs whose true class never appeared in train
    are still scored (against train classes only) and show up as their
    own confusion rows."""
    from .sampling import _ln_micro, hash_bucket  # noqa: PLC0415

    flagged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.col(label_col),
        (hash_bucket(F.col(text_col)) < train_bp).alias("_is_train"),
    )
    feats = feature_hashing(
        flagged, id_col, text_col, num_buckets, carry_cols=[label_col, "_is_train"]
    )
    # Cache the TINY model frames (classes×buckets counts, class
    # priors), not the corpus-scale count matrix: the model/prior
    # assembly fans out to several consumers that would each re-run
    # the featurize pass otherwise (differently-pruned scans defeat
    # ReuseExchange), while caching `feats` would commit corpus-scale
    # memory to save one streaming pass. Net: THREE bounded corpus
    # passes (train counts, priors, test scoring) at any scale.
    # Pinned to the result — callers release when done.
    model, prior_lp, cb, prior = _nb_model_frames(
        feats.filter(F.col("_is_train")),
        flagged.filter(F.col("_is_train")),
        label_col,
        num_buckets,
    )
    ll = (
        feats.filter(~F.col("_is_train"))
        .join(F.broadcast(model), "bucket")
        .groupBy(id_col, F.col(label_col).alias("true_label"), "cand")
        .agg(F.sum(F.col("cnt") * F.col("lp_micro")).alias("ll"))
    )
    scored = ll.join(F.broadcast(prior_lp), "cand").select(
        id_col,
        "true_label",
        "cand",
        (F.col("ll") + F.col("prior_micro")).alias("score"),
    )
    pred = scored.groupBy(id_col, "true_label").agg(
        F.min(F.struct((-F.col("score")).alias("n"), F.col("cand").alias("c")))
        .alias("m")
    )
    from ..cache import pin  # noqa: PLC0415

    return pin(
        pred.select("true_label", F.col("m.c").alias("pred_label"))
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")),
        cb,
        prior,
    )


def _nb_model_frames(
    train_feats: DataFrame,
    train_docs: DataFrame,
    label_col: str,
    num_buckets: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fit the NB model frames from training doc-bucket counts +
    training doc rows: returns (dense model (cand, bucket, lp_micro),
    class priors (cand, prior_micro), and the two PERSISTED tiny
    frames backing them — callers pin/release or persist to disk).
    Shared by :func:`nb_classifier_eval` (fit+eval one plan) and
    :func:`write_nb_model` (fit once, persist)."""
    from .sampling import _ln_micro  # noqa: PLC0415

    cb = train_feats.groupBy(label_col, "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt_cb")
    ).persist()
    ctot = cb.groupBy(label_col).agg(F.sum("cnt_cb").cast("bigint").alias("tok_c"))
    prior = (
        train_docs.groupBy(label_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs_c"))
        .persist()
    )
    nrow = prior.agg(
        F.sum("docs_c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    dense = prior.select(
        F.col(label_col).alias("cand"),
        F.explode(F.sequence(F.lit(0), F.lit(num_buckets - 1))).alias("bucket"),
    )
    model = (
        dense.join(
            cb.select(
                F.col(label_col).alias("cand"), "bucket", "cnt_cb"
            ),
            ["cand", "bucket"],
            "left",
        )
        .join(ctot.select(F.col(label_col).alias("cand"), "tok_c"), "cand")
        .select(
            "cand",
            "bucket",
            (
                _ln_micro(F.coalesce(F.col("cnt_cb"), F.lit(0)) + F.lit(1.0))
                - _ln_micro(F.col("tok_c") + F.lit(float(num_buckets)))
            ).alias("lp_micro"),
        )
    )
    prior_lp = prior.crossJoin(F.broadcast(nrow)).select(
        F.col(label_col).alias("cand"),
        (
            _ln_micro(F.col("docs_c") + F.lit(1.0))
            - _ln_micro(F.col("n_docs") + F.col("n_classes"))
        ).alias("prior_micro"),
    )
    return model, prior_lp, cb, prior


def write_nb_model(
    df: DataFrame,
    path: str,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 256,
) -> None:
    """Fit the multinomial NB model on ``df`` (the caller passes the
    TRAINING frame — a split, or the whole labeled corpus) and persist
    it — the train-once/score-many deployment shape the engine's other
    learned artifacts follow (write_bpe_vocab, write_rp_index,
    write_banded_signature_index). Layout: ``<path>/model`` (cand, bucket,
    lp_micro — dense classes×num_buckets), ``<path>/prior`` (cand,
    prior_micro), ``<path>/meta`` (num_buckets) — all catalog-sized."""
    feats = feature_hashing(
        df.select(id_col, text_col, label_col),
        id_col,
        text_col,
        num_buckets,
        carry_cols=[label_col],
    )
    model, prior_lp, cb, prior = _nb_model_frames(
        feats, df, label_col, num_buckets
    )
    model.write.mode("overwrite").parquet(f"{path}/model")
    prior_lp.write.mode("overwrite").parquet(f"{path}/prior")
    cb.unpersist()
    prior.unpersist()
    df.sparkSession.createDataFrame(
        [(int(num_buckets),)], "num_buckets int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def nb_score_indexed(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify a corpus with the SAVED NB model at ``path``
    (:func:`write_nb_model`) — no re-training: the model/prior reads
    are catalog-sized and broadcast. One featurize pass over ``df``,
    the same integer scoring and (score desc, class asc) min-struct
    argmax as :func:`nb_classifier_eval`. Returns one row per scored
    document: ``(id_col, pred_label, score_micro)`` — every input doc
    is scored: empty text tokenizes to [''] and gets a bucket row, and
    NULL text is coalesced to '' up front (tokens(NULL) is NULL and
    explode would otherwise silently drop the doc), so a NULL-text doc
    gets the same smoothed-floor score as an empty-text one."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    num_buckets = int(meta["num_buckets"])
    model = spark.read.parquet(f"{path}/model")
    prior_lp = spark.read.parquet(f"{path}/prior")
    feats = feature_hashing(
        df.select(
            id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
        ),
        id_col,
        text_col,
        num_buckets,
    )
    ll = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(id_col, "cand")
        .agg(F.sum(F.col("cnt") * F.col("lp_micro")).alias("ll"))
    )
    scored = ll.join(F.broadcast(prior_lp), "cand").select(
        id_col, "cand", (F.col("ll") + F.col("prior_micro")).alias("score")
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("n"), F.col("cand").alias("c"))
            ).alias("m")
        )
        .select(
            id_col,
            F.col("m.c").alias("pred_label"),
            (-F.col("m.n")).cast("bigint").alias("score_micro"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword extractor
    (smoothed idf = ln((N+1)/(df+1)) + 1, sklearn's convention).

    Plan: one token explode → (doc, term) tf counts; document
    frequency as a second agg over the SAME shuffled frame (not a
    rescan); corpus size N rides in via a broadcast 1-row frame (never
    a driver round-trip inside the plan). Scores micro-quantized so
    the per-doc top-k ordering is engine-exact; ties broken by term.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w"))
    tf = toks.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_micro",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                )
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_micro").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("w").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "tfidf_micro",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def keyness_topk(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k DISTINCTIVE terms per group by Dunning's log-likelihood
    ratio (G², Dunning 1993) — the corpus-linguistics "keyness" test:
    which words does this source over-use relative to the rest of the
    corpus? The domain-drift / source-fingerprint diagnostic TF-IDF
    (per-document) and PMI (bigram association) don't cover.

    For each (group, term) the 2×2 contingency table is (a = term in
    group, b = term elsewhere, c = other tokens in group, d = other
    tokens elsewhere) and G² = 2·Σ obs·ln(obs/exp), zero-observation
    cells contributing 0. Every cell's ln(obs/exp) is computed as
    ln(obs·N / (row_tot·col_tot)) with the integer products formed in
    DECIMAL(38,0) (exact at any corpus size — bigint·bigint would wrap
    silently past 2^63) and cast to double only for the ratio; both
    engines round that cast and division to nearest, so the
    micro-quantized cell values and the per-group ranking replay
    bit-for-bit in the oracle. The obs·lnm cell products and the G²
    sum ALSO run in DECIMAL(38,0) (HUGEINT in the oracle): a skewed
    term puts a corpus-sized obs against a ~1e6 lnm, which overflows
    int64 past ~3e11 tokens per cell — so ``g2_micro`` is a
    decimal(38,0) column, exact at any scale.

    Plan: one token explode → (group, term) counts; term totals and
    group totals as second aggs over the same frame; the grand total
    rides in via a broadcast 1-row frame; top-k per group through a
    group-keyed window (|groups| partitions — bounded by the catalog,
    not the corpus)."""
    toks = df.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    gt = toks.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    # term totals as a WINDOW over the term-keyed exchange instead of a
    # separate agg + self-join (r15, guide §2.4): the join needed the
    # same hash(w) exchange anyway, plus a second read of it and an
    # SMJ's two sorts; the full-partition window attaches ct in one
    # pass. A term's window partition is ≤ |groups| rows — catalog-
    # bounded, never a data-sized funnel.
    w_term = Window.partitionBy("w")
    gt_ct = gt.withColumn("ct", F.sum("a").over(w_term).cast("bigint"))
    grp_tot = gt.groupBy(group_col).agg(F.sum("a").cast("bigint").alias("rt"))
    n_tot = gt.agg(F.sum("a").cast("bigint").alias("n"))

    d38 = "decimal(38,0)"

    def cell(obs: Column, row_tot: Column, col_tot: Column, n: Column) -> Column:
        """obs·micro-ln(obs·n/(row_tot·col_tot)), 0 when obs = 0.
        The obs·lnm product is DECIMAL(38,0) too: a skewed term can
        put a corpus-sized obs against a ~1e6-scale lnm, and the
        bigint product would overflow past ~3e11 tokens per cell."""
        lnm = F.round(
            F.log(
                (obs.cast(d38) * n.cast(d38)).cast("double")
                / (row_tot.cast(d38) * col_tot.cast(d38)).cast("double")
            )
            * F.lit(1_000_000.0)
        ).cast("bigint")
        return F.when(obs > 0, obs.cast(d38) * lnm.cast(d38)).otherwise(
            F.lit(0).cast(d38)
        )

    scored = (
        gt_ct
        .join(F.broadcast(grp_tot), group_col)
        .crossJoin(F.broadcast(n_tot))
        .select(
            group_col,
            "w",
            "a",
            (
                F.lit(2).cast(d38)
                * (
                    cell(F.col("a"), F.col("rt"), F.col("ct"), F.col("n"))
                    + cell(
                        F.col("ct") - F.col("a"),
                        F.col("n") - F.col("rt"),
                        F.col("ct"),
                        F.col("n"),
                    )
                    + cell(
                        F.col("rt") - F.col("a"),
                        F.col("rt"),
                        F.col("n") - F.col("ct"),
                        F.col("n"),
                    )
                    + cell(
                        (F.col("n") - F.col("rt")) - (F.col("ct") - F.col("a")),
                        F.col("n") - F.col("rt"),
                        F.col("n") - F.col("ct"),
                        F.col("n"),
                    )
                )
            ).alias("g2_micro"),
        )
        # keyness = OVER-use only: keep terms whose group share exceeds
        # the corpus share (a/rt > ct/n ⟺ a·n > rt·ct, exact decimals)
        .filter(
            F.col("a").cast("decimal(38,0)") * F.col("n")
            > F.col("rt").cast("decimal(38,0)") * F.col("ct")
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("g2_micro").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            F.col("w").alias("term"),
            F.col("a").alias("freq_in_group"),
            # internal G² math is exact decimal; the OUTPUT is int64
            # (ANSI raises loudly if a pathological corpus exceeds it)
            F.col("g2_micro").cast("bigint").alias("g2_micro"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def collapse_token_runs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition cleanup: collapse each run of
    consecutive identical tokens to one occurrence ("go go go stop" →
    "go stop") — the surgical companion to the Gopher-style
    repetition SIGNALS (:func:`repetition_signals` measures, this
    repairs). Web/OCR corpora are full of stutter artifacts; dropping
    whole documents over them throws away good text.

    Pure per-row higher-order functions (filter with the (element,
    index) lambda comparing ``t[i]`` to ``t[i-1]``) — map-only, zero
    shuffle, no Python. The token array and the filtered array are
    each MATERIALIZED in their own projection before anything indexes
    into them: HOFs evaluate interpreted, so an ``element_at(expr, i)``
    whose ``expr`` is the split itself re-runs the regex split for
    every element — O(n²) per row (measured 2× wall-clock at sf0.1).
    Returns ``(id, clean_text, n_tokens, n_removed)``.
    """
    t = F.col("_t")
    kept = F.filter(t, lambda x, i: (i == 0) | (x != F.element_at(t, i)))
    return (
        df.select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_t"),
        )
        .select(F.col(id_col), F.col("_t"), kept.alias("_k"))
        .select(
            F.col(id_col),
            F.array_join(F.col("_k"), " ").alias("clean_text"),
            F.size(F.col("_t")).cast("bigint").alias("n_tokens"),
            (F.size(F.col("_t")) - F.size(F.col("_k")))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    top_words: int = 200,
    n_merges: int = 4,
) -> DataFrame:
    """Distributed BPE merge induction (Sennrich et al. 2016) — the
    tokenizer-training step of an LLM data pipeline, run on the corpus
    the engine just curated. Returns the learned merge table
    ``(merge_rank, left_sym, right_sym, merged, pair_count)``.

    Algorithm on the word-frequency dictionary (classic BPE, not the
    byte-level variant): words → ``[a-z]+`` runs of lowercased text;
    the ``top_words`` most frequent (count desc, word asc — a
    deterministic boundary) form the dict, each word spelled as a
    space-joined character sequence. Each of ``n_merges`` rounds counts
    adjacent symbol pairs weighted by word frequency (BOTH occurrences
    in ``a a a`` count, per the reference algorithm), picks the argmax
    (count desc, pair asc), and rewrites every word by merging that
    pair greedily left-to-right.

    The merge rewrite is pure string algebra both engines evaluate
    identically — no regex, no Python: double every separator space,
    then one global non-overlapping leftmost ``replace`` of
    ``' l  r '`` with ``' lr '`` (each match consumes one of the two
    boundary spaces on each side, so back-to-back occurrences such as
    ``a b a b`` still both match — the doubled-space trick), then
    re-normalize by splitting on spaces and dropping empties.

    Scale posture (100 TB): the corpus is touched ONCE — the word-count
    groupBy (an ordinary AQE-safe shuffle on the word key) — and that
    dict is persisted (``top_words`` rows; pinned to the result for the
    caller-owned release discipline, cache.py). Every merge round is
    then a vocab-sized explode + groupBy (hundreds of rows) plus a
    TakeOrdered(1) argmax that is cross-joined back as a 1-row
    broadcast — ZERO driver-side collects, zero Python in any hot
    path; at real scale rounds cost seconds regardless of corpus size.
    The iteration count is a bounded hyper-parameter like k-means'
    ``n_iters`` (clustering.py), and the same unrolled-CTE oracle
    strategy verifies it end-to-end — BUT unlike k-means the useful
    range is not always small: production tokenizers run 30k–100k
    merges, and this formulation schedules ONE Spark round per merge
    (each cheap, but 30k sequential vocab-sized jobs is a wall-clock
    problem). Envelope: use this form for n_merges ≲ 10² (analysis,
    demos, oracle-checked pipelines); for production vocab sizes use
    :func:`bpe_merges_local` — same single corpus shuffle, same merge
    table bit-for-bit (equality-tested), with the induction loop run
    driver-side over the collected ``top_words``-row dict.
    """
    from ..cache import pin  # noqa: PLC0415

    words = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dict0 = (
        words.orderBy(F.col("cnt").desc(), "word")
        .limit(top_words)
        .select(
            # spell the word as space-joined single characters; index
            # arithmetic (substring(word, i, 1)) rather than regex so
            # the DuckDB oracle can mirror it with plain list_transform
            F.expr(
                "array_join(transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1)), ' ')"
            ).alias("syms"),
            "cnt",
        )
        .persist()
    )

    def pair_counts(d: DataFrame) -> DataFrame:
        arr = F.split(F.col("syms"), " ")
        n = F.size(arr)
        pairs = F.zip_with(
            F.slice(arr, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(arr, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        return (
            d.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
        )

    merge_rows: list[DataFrame] = []
    pinned: list[DataFrame] = [dict0]
    d = dict0
    for k in range(n_merges):
        best = (
            pair_counts(d)
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .select("l", "r", "c")
        )
        merge_rows.append(
            best.select(
                F.lit(k + 1).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("c").cast("bigint").alias("pair_count"),
            )
        )
        doubled = F.concat(
            F.lit(" "),
            F.replace(F.col("syms"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        pat = F.concat(
            F.lit(" "), F.col("l"), F.lit("  "), F.col("r"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" "))
        d = d.crossJoin(F.broadcast(best)).select(
            F.array_join(
                F.filter(
                    F.split(F.replace(doubled, pat, rep), " "),
                    lambda x: x != "",
                ),
                " ",
            ).alias("syms"),
            "cnt",
        )
        if k + 1 < n_merges:
            # Persist each intermediate dict (top_words rows — bounded
            # like dict0): best{k} feeds BOTH the merge table and
            # dict{k+1}, so without a per-round barrier Catalyst
            # re-evaluates round k's whole rewrite chain inside every
            # later round's subtree — O(n²) planning/codegen depth that
            # dominates wall time (the data is vocab-sized either way).
            d = d.persist()
            pinned.append(d)

    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return pin(out, *pinned)


def bpe_merges_local(
    df: DataFrame,
    text_col: str = "text",
    top_words: int = 200,
    n_merges: int = 4,
) -> DataFrame:
    """Production-vocab twin of :func:`bpe_merges`: the corpus pays the
    SAME single word-count shuffle and the same deterministic
    ``top_words`` boundary (count desc, word asc), but the merge
    induction loop runs DRIVER-SIDE over the collected dict — the dict
    is ``top_words`` rows by construction (trivially driver-sized at
    any corpus scale), so 30k merges cost 30k in-memory dict rewrites
    instead of 30k sequential Spark rounds. Output is the identical
    merge table ``(merge_rank, left_sym, right_sym, merged,
    pair_count)``, bit-for-bit (tie-breaks: count desc, pair asc;
    greedy leftmost non-overlapping rewrite — equality-tested against
    the distributed form at small n_merges).

    This is the 30k–100k-merge path the distributed form's envelope
    note points at; corpus-scale cost is identical (ONE shuffle), only
    the vocab-sized iteration moves off the scheduler. Rounds after
    the pair supply is exhausted emit no rows (mirroring the
    distributed form, whose empty argmax empties the dict)."""
    from collections import Counter  # noqa: PLC0415

    rows = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(top_words)
        .collect()
    )
    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]), int(r["cnt"])) for r in rows
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(n_merges):
        counts: Counter = Counter()
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += cnt
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((k + 1, left, right, left + right, int(c)))
        new_vocab = []
        for syms, cnt in vocab:
            out_syms: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out_syms.append(left + right)
                    i += 2
                else:
                    out_syms.append(syms[i])
                    i += 1
            new_vocab.append((out_syms, cnt))
        vocab = new_vocab
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_words: int = 200,
    n_merges: int = 4,
) -> DataFrame:
    """Apply the learned BPE merges (:func:`bpe_merges`) back to the
    WHOLE corpus — the second half of the tokenizer story: train on the
    frequency dict, then measure how the corpus actually tokenizes
    under those rules. Returns one row per document:
    ``(id_col, n_words, n_tokens, fertility_micro)`` where
    ``fertility_micro = (n_tokens · 10^6) div n_words`` (BPE fertility,
    tokens per word, exact integer micro-units; NULL for wordless
    docs, whose counts are 0).

    Encoding is the classic apply-merges-in-rank-order: each word is
    spelled as spaced characters and each merge ``(l, r)`` is replayed
    with the SAME doubled-space greedy-leftmost string algebra the
    learner used — so a word outside the training dict (OOV) still
    encodes, exactly like a real tokenizer.

    Scale posture (100 TB): the learned merge table is collected —
    ``n_merges`` rows, a bounded hyper-parameter exactly like k-means'
    ``k·d`` centroid collect (clustering.py) — and applied as chained
    LITERAL string replaces, pure JVM map work. The corpus is touched
    by two scans (the learner's word count; the per-doc word count),
    each an ordinary AQE-safe groupBy shuffle. Each DISTINCT word is
    encoded once (vocab-sized map work), then joined back to the
    per-doc counts on the word key — the join input is already
    word-shuffled, and AQE broadcasts the vocab side when it is small.
    No Python anywhere; no driver data beyond the n_merges rules.
    """
    from ..cache import released  # noqa: PLC0415

    mtable = bpe_merges(df, text_col, top_words, n_merges)
    with released(mtable):
        merges = [
            (r["left_sym"], r["right_sym"])
            for r in mtable.orderBy("merge_rank").collect()
        ]
    return _encode_with_merges(df, merges, text_col, id_col)


def _encode_with_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an in-hand merge-rule list to a corpus — the shared encode
    body behind :func:`bpe_encode` (learns then applies) and
    :func:`bpe_encode_indexed` (applies SAVED rules). Same plan either
    way: per-doc word counts, each DISTINCT word encoded once with
    chained literal replaces, word-keyed join back."""
    dwords = (
        df.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
                )
            ).alias("word"),
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    syms = F.expr(
        "array_join(transform(sequence(1, length(word)),"
        " i -> substring(word, i, 1)), ' ')"
    )
    for left, right in merges:
        doubled = F.concat(
            F.lit(" "), F.replace(syms, F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        syms = F.array_join(
            F.filter(
                F.split(
                    F.replace(
                        doubled,
                        F.lit(f" {left}  {right} "),
                        F.lit(f" {left}{right} "),
                    ),
                    " ",
                ),
                lambda x: x != "",
            ),
            " ",
        )
    enc = dwords.select("word").distinct().select(
        "word", F.size(F.split(syms, " ")).alias("n_tok")
    )

    per_doc = (
        dwords.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("_w"),
            F.sum(F.col("c") * F.col("n_tok")).cast("bigint").alias("_t"),
        )
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("_w", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("_t", F.lit(0)).cast("bigint").alias("n_tokens"),
        # NULL-propagating on purpose: wordless docs have no fertility
        F.expr("(_t * 1000000) div _w").alias("fertility_micro"),
    )


def write_bpe_vocab(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    top_words: int = 200,
    n_merges: int = 4,
) -> None:
    """Train the BPE merges ONCE and persist them — the
    train-once/apply-many deployment shape every index in this engine
    follows (write_rp_index, write_banded_signature_index). A tokenizer
    is trained once per corpus release and applied to every later
    ingest; re-learning per encode call (what :func:`bpe_encode` does,
    correct for its self-contained contract) would re-pay the corpus
    word-count scan and the merge rounds every time.

    Layout: ``<path>/merges`` (the n_merges-row rule table, exactly
    :func:`bpe_merges`' output) + ``<path>/meta`` (top_words,
    n_merges) — both catalog-sized."""
    from ..cache import released  # noqa: PLC0415

    mtable = bpe_merges(df, text_col, top_words, n_merges)
    with released(mtable):
        mtable.write.mode("overwrite").parquet(f"{path}/merges")
    df.sparkSession.createDataFrame(
        [(int(top_words), int(n_merges))], "top_words int, n_merges int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def bpe_encode_indexed(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus with the SAVED merge rules at ``path``
    (:func:`write_bpe_vocab`) — no re-learning: the only non-encode
    cost is reading the n_merges-row rule table (a bounded,
    catalog-sized collect, the k-means-centroid shape). Same output
    contract as :func:`bpe_encode`; OOV words (absent from the
    TRAINING dict — including every word of a corpus the vocab was
    never fit on) encode through the same chained replaces, exactly
    like a real tokenizer shipped to a new ingest."""
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in spark.read.parquet(f"{path}/merges")
        .orderBy("merge_rank")
        .collect()
    ]
    return _encode_with_merges(df, merges, text_col, id_col)
