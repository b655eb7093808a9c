"""Text analysis operators: token counting, quality scoring,
language ID, fingerprinting.

All metrics are pure built-in-function column expressions (no UDFs):
they run JVM-side inside whole-stage codegen and are exactly
reproducible in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from v3io_tsdb_spark.functions.detmath import with_det_exp, with_det_ln
from v3io_tsdb_spark.functions.share import shared

# Small per-language stopword sets for the n-gram/stopword heuristic
# language-ID (public, standard function words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "en"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "他", "这", "中"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty text → empty array."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def quantize_half_away(c: Column) -> Column:
    """THE determinism/throughput quantization primitive: nearest
    integer, halves away from zero, as a long — the floor/ceil form,
    NOT ``F.round`` (round(double, 0) routes through BigDecimal per
    row: measured 5× slower inside codegen on data-sized passes).
    Plain IEEE mul/add/floor, so the DuckDB twin
    ``CASE WHEN c >= 0 THEN floor(c + 0.5) ELSE -floor(-c + 0.5) END``
    selects the identical integer on identical inputs by construction.
    Single source of truth — :func:`micro_nats` and
    ``similarity._qhalf`` both delegate here; a change to the rounding
    form must land exactly once."""
    from v3io_tsdb_spark.functions import detmath

    if detmath.ROUND_PERTURB_ULPS:
        # order-sweep round-boundary stage (VERDICT r13 #3): simulate a
        # cross-engine ulp on the unrounded value feeding this seam
        c = c * F.lit(1.0 + detmath.ROUND_PERTURB_ULPS * 2.0 ** -52)
    return F.when(c >= 0, F.floor(c + F.lit(0.5))).otherwise(
        -F.floor(-c + F.lit(0.5))
    )


def micro_nats(logexpr: Column) -> Column:
    """Quantize a natural-log term to integer micro-nats:
    ``round(ln(·)·1e6)`` as a long.

    The determinism primitive behind every mean-of-logs score in this
    module (VERDICT r11 #1/#2): a float ``sum(ln ·)`` accumulates in
    partition/engine order, so a mean near a 6dp rounding boundary can
    flip between Spark and an oracle engine (the r11 driver red on
    X162 was exactly this). Integer sums are exact and order-free, and
    the single final division of identical integers is bit-identical
    IEEE everywhere. Residual cross-libm risk is a per-term ln ulp
    straddling a half-micro-nat boundary (~4e-9/term) — orders of
    magnitude below the old per-sum exposure — and within one host the
    result is partitioning-invariant (tests/test_order_robustness.py).

    Rounding delegates to :func:`quantize_half_away` (the floor/ceil
    half-away-from-zero form and its rationale live there, once).
    """
    return quantize_half_away(logexpr * F.lit(1e6))


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text (stable across engines; the rolling-hash analog)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats table.

    Tokenizes ONCE into intermediate columns and derives every metric
    from them — the naive per-metric expressions would re-run the
    regex split ~10× per row (Spark's subexpression elimination does
    not reliably collapse repeated ``split`` calls).
    """
    langs = ("en", "es", "fr", "de", "zh")
    # single-payload emission (r17, §7.3): the Column-by-Column build
    # cost ~0.4 s of driver latency per call (measured; corpus_pipeline
    # pays it once per run, doc_text_stats per run). Each selectExpr
    # below mirrors one of the original selects op for op — same
    # CASE/split/transform/filter/aggregate nodes, D-suffixed double
    # literals where F.lit(float) stood — so every value is identical
    # by construction. The values are checked by the registry's DuckDB
    # oracle row ``doc_text_stats``, not by a test against a Column form.
    t, i = f"`{text_col}`", f"`{id_col}`"
    toks = (
        f"CASE WHEN (length(trim({t})) = 0) "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(trim({t}), '\\\\s+') END"
    )
    base = df.selectExpr(i, f"{t} AS _t", f"{toks} AS _toks").selectExpr(
        i, "_t", "_toks",
        "transform(_toks, x -> lower(x)) AS _ltoks",
        "CAST(size(_toks) AS BIGINT) AS _n",
    )

    def hits(lang: str) -> str:
        words = ", ".join("'%s'" % w for w in STOPWORDS[lang])
        return f"size(filter(_ltoks, x -> x IN ({words})))"

    scored = base.selectExpr(
        i, "_t", "_n",
        "aggregate(transform(_toks, x -> length(x)), 0, (a, x) -> a + x)"
        " AS _sumlen",
        *[f"{hits(lg)} AS _s_{lg}" for lg in langs],
    )

    atl = "CASE WHEN (_n > 0) THEN (CAST(_sumlen AS DOUBLE) / _n) END"
    atl0 = f"coalesce({atl}, 0.0D)"
    swr = "CASE WHEN (_n > 0) THEN (CAST(_s_en AS DOUBLE) / _n) ELSE 0.0D END"
    best = "greatest(" + ", ".join(f"_s_{lg}" for lg in langs) + ")"
    lang_pred = "'und'"
    for lg in reversed(langs):
        lang_pred = (
            f"CASE WHEN (({best} > 0) AND (_s_{lg} = {best})) "
            f"THEN '{lg}' ELSE {lang_pred} END"
        )
    quality = (
        "round(("
        "CASE WHEN ((_n >= 10) AND (_n <= 100000)) THEN 1.0D ELSE 0.0D END"
        f" + CASE WHEN (({atl0} >= 2.0D) AND ({atl0} <= 12.0D)) "
        "THEN 1.0D ELSE 0.0D END"
        f" + CASE WHEN ({swr} >= 0.01D) THEN 1.0D ELSE 0.0D END"
        ") / 3.0D, 6)"
    )
    # +1e-9 before rounding: int/int ratios land exactly on round-half
    # boundaries where engines' tie-breaks differ; the shift (applied
    # identically in the DuckDB oracles) makes rounding unambiguous.
    return scored.selectExpr(
        i,
        "CAST(length(_t) AS BIGINT) AS n_chars",
        "_n AS n_tokens",
        f"round({atl0} + 1E-9, 6) AS avg_token_len",
        f"round({swr} + 1E-9, 6) AS stopword_ratio_en",
        f"{lang_pred} AS lang_pred",
        f"{quality} AS quality",
        "md5(regexp_replace(lower(trim(_t)), '\\\\s+', ' ')) AS fingerprint",
    )


# -- repetition / quality signals ------------------------------------------

def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile: duplicate-word ratio plus
    duplicate bigram/trigram fractions — the inputs to a repetition
    quality gate.

    Tokenizes ONCE into an intermediate column and builds each n-gram
    set from it: inlining the split into all five consumers quintupled
    the generated-code size and dominated COLD time via janino compile
    (~5.5s of the bench's 6.5s cold; warm was already 0.9s). Same
    restructure-for-codegen rule as text_stats."""
    toks = F.col("_toks")

    def grams(n: int):
        # k <= 0 must yield an EMPTY array (→ ratio 0.0): sequence(1, 0)
        # would generate the DESCENDING [1, 0], not []
        k = F.size(toks) - F.lit(n - 1)
        return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )

    def dup_ratio(arr):
        return F.when(F.size(arr) <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(arr)) / F.size(arr)
        )

    staged = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_toks"),
    ).select(id_col, "_toks", grams(2).alias("_g2"), grams(3).alias("_g3"))
    return staged.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        dup_ratio(toks).alias("dup_word_ratio"),
        dup_ratio(F.col("_g2")).alias("dup_bigram_ratio"),
        dup_ratio(F.col("_g3")).alias("dup_trigram_ratio"),
    )


# -- Quality-rule suite -----------------------------------------------------


def quality_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style per-rule quality filter: one boolean column per
    rule plus the composite ``keep`` verdict, so a pipeline can both
    FILTER on ``keep`` and AUDIT which rule rejected each document.

    Rules (all pure column expressions, tokenized once):
      r_len       — token count within [15, 100000]
      r_avg_len   — mean token length within [2, 8]
      r_word_len  — longest token <= 15 chars (no undecoded blobs)
      r_stop      — >= 2 distinct stopwords present (natural-language
                    signal; the C4 "contains English function words")
      r_top       — most frequent token <= 12.5% of the document (the
                    Gopher repetition gate at the unigram level)

    The top-token fraction is computed as ``max over distinct tokens of
    count(token)/n`` via nested array transforms — O(distinct × n) per
    row, no explode/shuffle, and expressible verbatim in DuckDB list
    functions for the oracle.
    """
    # Emitted as SQL strings (two selectExpr payloads): the
    # Column-by-Column construction of the same trees (lambda
    # transforms, the stopword literal array, each rule expression
    # inlined twice) cost 939 py4j round-trips ≈ 0.9 s of driver
    # latency per build (cProfile). The SQL re-inlines each rule
    # expression exactly where the Column version did, and double
    # literals carry the D suffix, so the expression trees — and
    # therefore the values — are unchanged.
    tok = f"trim(lower(trim(`{text_col}`)))"
    tok_sql = (
        f"CASE WHEN length({tok}) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({tok}, '\\\\s+') END"
    )
    out = df.selectExpr(f"`{id_col}`", f"{tok_sql} AS _lt").selectExpr(
        "*", "size(_lt) AS _n"
    )
    avg_sql = (
        "CASE WHEN _n > 0 THEN CAST(aggregate(transform(_lt, x -> length(x)), "
        "0, (a, x) -> a + x) AS DOUBLE) / _n ELSE 0.0D END"
    )
    maxlen_sql = "coalesce(array_max(transform(_lt, x -> length(x))), 0)"
    stop_arr = "array(%s)" % ", ".join("'%s'" % s for s in STOPWORDS["en"])
    nstop_sql = f"size(array_intersect(_lt, {stop_arr}))"
    topcnt_sql = (
        "coalesce(array_max(transform(array_distinct(_lt), "
        "x -> size(filter(_lt, y -> y = x)))), 0)"
    )
    topratio_sql = (
        f"CASE WHEN _n > 0 THEN CAST({topcnt_sql} AS DOUBLE) / _n "
        f"ELSE 0.0D END"
    )
    out = out.selectExpr(
        f"`{id_col}`",
        "CAST(_n AS BIGINT) AS n_tokens",
        f"round({avg_sql}, 6) AS avg_token_len",
        f"CAST({maxlen_sql} AS BIGINT) AS max_token_len",
        f"CAST({nstop_sql} AS BIGINT) AS n_stopwords",
        f"round({topratio_sql}, 6) AS top_token_ratio",
        "CAST(_n >= 15 AND _n <= 100000 AS INT) AS r_len",
        f"CAST({avg_sql} >= 2.0D AND {avg_sql} <= 8.0D AS INT) AS r_avg_len",
        f"CAST({maxlen_sql} <= 15 AS INT) AS r_word_len",
        f"CAST({nstop_sql} >= 2 AS INT) AS r_stop",
        f"CAST({topratio_sql} <= 0.125D AS INT) AS r_top",
    )
    keep = (
        (F.col("r_len") + F.col("r_avg_len") + F.col("r_word_len")
         + F.col("r_stop") + F.col("r_top")) == 5
    )
    return out.withColumn("keep", keep.cast("int"))


# -- TF-IDF -----------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1), ties broken lexically — the classic
    keyword/topic signal a corpus-exploration pass computes.

    All inputs to the floating-point math are exact integers (term
    frequency, document frequency, corpus size), so scores reproduce
    engine-exactly. Plan shape: two hash aggregations (doc-term counts,
    term document-frequency), an equi-join on term, a broadcast of the
    one-row corpus size, and a per-document ranking window bounded by
    one document's distinct terms — every shuffle on a well-distributed
    key, nothing global.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.trim(F.col(text_col))))).alias("term"),
    )
    # tf feeds document frequencies AND the scoring join: shared()
    # tokenizes/aggregates once (pre-r16: 2 scans + 2 explodes)
    tf = shared(toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count_distinct(F.col(id_col)).alias("_df"))
    n = df.agg(F.count_distinct(F.col(id_col)).alias("_N"))
    # det_ln (detmath: shared IEEE-only log, identical in the oracle
    # engine) computed ONCE per vocabulary term, not per (doc, term)
    idf = with_det_ln(
        dfreq.crossJoin(F.broadcast(n)), "_lnidf",
        (F.col("_N") + 1) / (F.col("_df") + 1),
    ).select("term", "_df", "_lnidf")
    scored = (
        tf.join(idf, "term")
        .withColumn("score", F.col("tf") * (F.col("_lnidf") + F.lit(1.0)))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round(F.col("score") + 1e-9, 6).alias("score"),
        )
    )


# -- PII scrubbing ----------------------------------------------------------

# Patterns restricted to the RE2 ∩ Java-regex common subset so a SQL
# oracle (RE2) matches the engine (Java) byte-for-byte: character
# classes, greedy counted quantifiers, \b word boundaries — no
# lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9 -]{7,}[0-9]"


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask emails / IPv4 addresses / phone-shaped digit runs with
    typed sentinels and report per-doc match counts — the compliance
    pass a training pipeline runs before tokenization.

    Replacement order matters and is part of the contract: emails
    first (their local parts contain digits), then IPs (dotted quads
    would otherwise be half-eaten by the phone run), then phones.
    All three are single regexp_replace column expressions — scan-side
    map work, no shuffle.
    """
    t = F.col(text_col)
    t1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IP_RE, "<IP>")
    scrubbed = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    # each count runs on the PREVIOUS stage's output (n_ips on t1, not
    # the raw text): a dotted quad inside an email domain is masked by
    # the email pass and must not count as an IP — counting on the raw
    # text would report more <IP> replacements than actually happen
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(PII_IP_RE), F.lit(0)))
        .cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def word_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc Shannon entropy (nats) of the token distribution, plus
    distinct/total token counts — the vocabulary-diversity quality
    signal (boilerplate and keyword-stuffed pages score low; repetition
    stats catch phrase-level copies, this catches distributional ones).

    Uses ``H = ln(n) − Σ c·ln(c) / n`` so the float path is two exact
    integer-input terms, not per-term divisions. Plan shape: explode →
    (doc, term) hash aggregate → per-doc hash aggregate; both shuffles
    key on doc_id (well distributed), nothing global, no window.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.trim(F.col(text_col))))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("c"))
    # det_ln per (doc, term) row pre-agg, and once more on the per-doc
    # total post-agg — no engine-local libm anywhere in the hash
    tf = with_det_ln(tf, "_lnc", F.col("c").cast("double"))
    g = tf.groupBy(id_col).agg(
        F.count("term").cast("long").alias("n_distinct"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.col("_lnc")).alias("_clnc"),
    )
    g = with_det_ln(g, "_lnn", F.col("n_tokens").cast("double"))
    return g.select(
        id_col,
        "n_distinct",
        "n_tokens",
        (F.col("_lnn") - F.col("_clnc") / F.col("n_tokens")).alias("entropy"),
    )


def normalized_text_col(text: Column) -> Column:
    """Aggressive canonical form for normalization-robust dedup:
    casefold, punctuation → space, whitespace collapsed, trimmed.
    Pure column expression (regexp_replace chain, JVM-side) and exactly
    reproducible in ANSI SQL, so normalized fingerprints can be
    oracle-checked. Catches the near-dups exact dedup misses when only
    case/punctuation/spacing differ (the most common CommonCrawl
    re-render delta)."""
    stripped = F.regexp_replace(F.lower(text), r"[^\p{L}\p{Nd}\s]+", " ")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def normalized_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup over the NORMALIZED form: per doc, the md5 of its
    canonical text, the cluster size, and whether this doc is the
    cluster's canonical representative (lowest id — the same
    keep-lowest rule as functions/dedup.exact_dedup).

    Plan shape: groupBy(fingerprint) cluster stats (map-side
    combinable — a boilerplate fingerprint shared by millions of docs
    partial-aggregates on every executor, one reduce row) joined back
    1:1 on the fingerprint. Deliberately NOT a window over the
    fingerprint: that would sort the degenerate all-dups cluster on a
    single task. Normalization itself is scan-side."""
    fp = F.md5(normalized_text_col(F.col(text_col))).alias("norm_fp")
    docs = df.select(F.col(id_col), fp)
    clusters = docs.groupBy("norm_fp").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.min(id_col).alias("_canon_id"),
    )
    return (
        docs.join(clusters, "norm_fp")
        .select(
            id_col,
            "norm_fp",
            "n_dups",
            (F.col(id_col) == F.col("_canon_id")).alias("is_canonical"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own
    add-``alpha``-smoothed unigram distribution — the cheap LM-style
    quality filter (CCNet-shape): documents whose vocabulary is
    unusual for the corpus score low, boilerplate scores high.

    Plan shape (100 TB posture): one explode, then
      1. per-(doc, term) counts — doc-keyed hash aggregate,
      2. corpus term counts — term-keyed hash aggregate over (1),
         output bounded by vocabulary size, map-side combinable,
      3. a 1-row corpus-totals aggregate broadcast back,
      4. tf ⋈ corpus on term (1:1 per row, no fan-out; shuffle join —
         vocabulary is NOT assumed broadcastable), then a doc-keyed
         aggregate of ``c_doc · ln p_term``.
    No window, no all-pairs; every shuffle keys on doc_id or term.

    The per-term log is quantized to integer micro-nats before the
    doc-keyed sum (see :func:`micro_nats`) so the mean is order-free:
    ``mean_logprob = Σ c·round(ln p·1e6) / (1e6·Σ c)`` — exact integer
    arithmetic until one final division of identical integers.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.trim(F.col(text_col))))).alias("term"),
    )
    # tf feeds the corpus model AND the final scoring join; corpus
    # feeds the totals row AND the per-term panel — shared() computes
    # each once (pre-r16: 3 scans + 3 explodes of the corpus per call)
    tf = shared(toks.groupBy(id_col, "term").agg(F.count("*").alias("c_doc")))
    corpus = shared(tf.groupBy("term").agg(F.sum("c_doc").alias("c_corpus")))
    totals = corpus.agg(
        F.sum("c_corpus").alias("n_total"), F.count("*").alias("v_size")
    )
    # det_ln + micro-nat quantization at TERM level (vocabulary-sized
    # panel) — the per-(doc, term) pass consumes the integer directly
    pm = with_det_ln(
        corpus.crossJoin(F.broadcast(totals)), "_lnp",
        (F.col("c_corpus") + F.lit(alpha))
        / (F.col("n_total") + F.lit(alpha) * F.col("v_size")),
    ).select("term", micro_nats(F.col("_lnp")).alias("_mn"))
    scored = (
        tf.join(pm, "term")
        .groupBy(id_col)
        .agg(
            F.sum("c_doc").cast("long").alias("n_tokens"),
            F.sum(F.col("c_doc").cast("long") * F.col("_mn")).alias("_s"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("_s") / (F.lit(1e6) * F.col("n_tokens"))).alias(
                "mean_logprob"
            ),
        )
    )
    return scored


# Unicode scripts profiled by script_profile; (name, Java regex class,
# RE2/DuckDB regex class) — Java needs the Is prefix for script names,
# RE2 takes the bare script name.
SCRIPTS = (
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
)


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc Unicode script mix: the character count and ratio per
    major script (Latin/Han/Cyrillic/Arabic) plus the dominant script —
    the script-level companion to the stopword language-ID (a page can
    be 'en' by stopwords yet 60% CJK by characters; multilingual
    pipelines route on exactly this mix).

    Pure scan-side column expressions (``regexp_count`` over Unicode
    script classes, JVM-side, zero shuffle) and reproducible in RE2
    SQL, so the whole profile is oracle-checkable. Dominant script =
    argmax of counts with first-listed-wins tie break; docs matching no
    profiled script get 'other'.

    The per-script ratios are EXACT integer ratios (count/n_chars), so
    they quantize via detmath.q6_ratio — pure BIGINT half-up, one /1e6
    — not an engine round() (r14 rounding-seam audit: the old
    ``round(c/len, 6)`` sat ON a 6dp boundary for 4 fixture cells and
    failed the ±1-ulp round-boundary sweep stage).
    """
    from v3io_tsdb_spark.functions.detmath import q6_ratio_col

    col = F.col(text_col)
    counts = {name: F.regexp_count(col, F.lit(java)) for name, java, _ in SCRIPTS}
    best = F.lit("other")
    best_n = F.lit(0)
    # left-to-right argmax fold: strictly-greater keeps first-listed on ties
    for name, _, _ in SCRIPTS:
        c = counts[name]
        best = F.when(c > best_n, F.lit(name)).otherwise(best)
        best_n = F.when(c > best_n, c).otherwise(best_n)
    base_cols = [F.col(id_col), F.length(col).alias("n_chars")]
    for name, _, _ in SCRIPTS:
        base_cols.append(counts[name].cast("long").alias(f"n_{name}"))
    base_cols.append(best.alias("dominant_script"))
    base = df.select(*base_cols)
    out_cols = [F.col(id_col), F.col("n_chars")]
    for name, _, _ in SCRIPTS:
        out_cols.append(F.col(f"n_{name}"))
        out_cols.append(
            F.when(
                F.col("n_chars") > 0,
                q6_ratio_col(f"n_{name}", "n_chars") / F.lit(1e6),
            ).alias(f"r_{name}")
        )
    out_cols.append(F.col("dominant_script"))
    return base.select(*out_cols)


# -- document fingerprinting (winnowing) ------------------------------------


def _hash60(s: Column) -> Column:
    """Engine-portable 60-bit content hash: the first 15 hex digits of
    md5 as a positive BIGINT — the same construction the SQL oracles
    use (``('0x' || substr(md5(x),1,15))::BIGINT``), so fingerprints
    hash-match across engines (Spark's xxhash64 has no DuckDB twin)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-token shingle, slide a window of ``w``
    consecutive shingle hashes, keep the window minimum (leftmost on
    ties — documented variant of the paper's rightmost rule), dedupe
    repeated picks. Guarantees every match of length >= w+k-1 tokens
    shares a fingerprint while storing ~1/w of the shingles — the
    localized near-dup/plagiarism index the full MinHash sketch (X3)
    can't give (MinHash says HOW similar, winnowing says WHERE).

    Docs with fewer than ``w`` shingles (but at least one) contribute
    their single global minimum; shorter-than-k docs contribute
    nothing. Returns (id_col, pos, fp) — pos is the 0-based shingle
    position of the selected fingerprint.

    100 TB posture: pure scan-side array expressions (no shuffle, no
    Python); output is ~n_tokens/w rows per doc, and a downstream
    groupBy(fp) — the match index — shuffles only the winnowed
    fraction, never the raw shingle stream.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    kh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: _hash60(F.array_join(F.slice(toks, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    d = df.select(F.col(id_col), kh.alias("_kh"))
    n = F.size(F.col("_kh"))

    def _pick(j):
        sl = F.slice(F.col("_kh"), j + 1, w)
        m = F.array_min(sl)
        return F.struct(
            (j + F.array_position(sl, m) - 1).cast("long").alias("pos"),
            m.alias("fp"),
        )

    windows = F.transform(F.sequence(F.lit(0), n - w), _pick)
    single = F.array(
        F.struct(
            (F.array_position(F.col("_kh"), F.array_min(F.col("_kh"))) - 1)
            .cast("long")
            .alias("pos"),
            F.array_min(F.col("_kh")).alias("fp"),
        )
    )
    empty = F.array().cast("array<struct<pos:bigint,fp:bigint>>")
    sels = F.when(n >= w, windows).otherwise(
        F.when(n > 0, single).otherwise(empty)
    )
    picked = d.select(
        F.col(id_col), F.explode(F.array_distinct(sels)).alias("_s")
    )
    return picked.select(
        id_col, F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp")
    )


# -- BM25 ranked retrieval --------------------------------------------------


def bm25_topk(
    df: DataFrame,
    query_terms: tuple,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed term set: the standard
    relevance score a corpus-curation pass uses to mine topical
    training slices (idf = ln(1 + (N-df+0.5)/(df+0.5)); tf saturation
    k1, length normalization b against the corpus mean token count).

    Exact-integer inputs (tf, df, doclen, N) feed the float math, so
    scores reproduce engine-exactly under round(6). Returns the top-k
    (rank, id, score, n_hit_terms), score-desc with id tiebreak.

    100 TB posture: the token stream is filtered to the query terms AT
    THE SCAN (array_intersect before explode), so the per-term
    aggregate shuffles only matching occurrences; df/N/avglen are
    broadcast one-row/`len(terms)`-row sides; the final top-k is
    TakeOrdered (``orderBy().limit(k)`` — per-partition k-row heaps,
    the same pattern as ``cosine_topk``), NOT a global rank window:
    with a common query term the matched set is unbounded at 100 TB
    and an unpartitioned ``row_number`` window would funnel every
    matched doc through one task. ``rank`` is derived by a window
    over the already-reduced k-row result (bounded, trivially safe).
    """
    from pyspark.sql import Window

    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = tokens_col(F.lower(F.col(text_col)))
    # base (N + avglen pass AND the matched-term pass) and tf (dfreq
    # AND scoring) each had 2 consumers: shared() tokenizes the corpus
    # once (pre-r16: 3 scans + 3 tokenizations per call). `_hit`
    # (array_intersect) existed only for the non-empty filter, which
    # `_occ` already answers — size(_occ)>0 ⟺ size(_hit)>0 — so the
    # second per-row array pass is dropped outright.
    base = shared(df.select(
        F.col(id_col),
        F.size(toks).alias("_len"),
        F.filter(toks, lambda t: F.array_contains(terms, t)).alias("_occ"),
    ))
    stats = base.agg(
        F.count("*").alias("_N"), F.avg("_len").alias("_avglen")
    )
    tf = shared(
        base.where(F.size(F.col("_occ")) > 0)
        .select(F.col(id_col), F.col("_len"), F.explode("_occ").alias("term"))
        .groupBy(id_col, "_len", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("_df")
    )
    # det_ln at term level (≤ len(query_terms) rows)
    idfp = with_det_ln(
        dfreq.crossJoin(F.broadcast(stats.select("_N"))), "_idf",
        F.lit(1.0)
        + (F.col("_N") - F.col("_df") + 0.5) / (F.col("_df") + 0.5),
    ).select("term", "_idf")
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("_len") / F.col("_avglen")
    )
    scored = (
        tf.join(F.broadcast(idfp), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", F.col("_idf") * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(
            F.sum("_s").alias("score"),
            F.count("*").alias("n_hit_terms"),
        )
    )
    # rank on the ROUNDED score: sub-ulp float-sum-order differences
    # between engines must not flip rank order (hash determinism)
    rscore = F.round(F.col("score") + 1e-9, 6)
    topk = (
        scored.select(
            F.col(id_col),
            rscore.alias("score"),
            F.col("n_hit_terms").cast("long").alias("n_hit_terms"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
    win = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return topk.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("rank", id_col, "score", "n_hit_terms")


# -- corpus-slice divergence ------------------------------------------------


def slice_kl_divergence(
    df: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """KL divergence of each corpus slice's unigram distribution from
    the whole corpus: KL(p_slice || p_corpus) = sum p_t log(p_t/q_t) —
    the drift score a mixture-tuning pass uses to find sources whose
    language diverges from the blend. The corpus distribution is a
    superset of every slice's support, so the ratio is always defined
    (no smoothing needed), and every probability comes from exact
    integer counts — engine-reproducible under round(6).

    Plan: one explode + (slice, term) count, a term-keyed re-aggregate
    for corpus counts (map-side combinable; NO broadcast assumption on
    the vocabulary), an equi-join on term, and a tiny final per-slice
    sum. Two shuffles on well-distributed keys.
    """
    toks = df.select(
        F.col(slice_col).alias("_sl"),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"),
    )
    # per_slice has 3 consumers (per_term, totals, join), per_term 2
    # (grand, join): shared() computes each once (pre-r16: 4 scans +
    # 4 explodes of the corpus per call)
    per_slice = shared(
        toks.groupBy("_sl", "term").agg(F.count("*").alias("_c"))
    )
    per_term = shared(per_slice.groupBy("term").agg(F.sum("_c").alias("_ct")))
    totals = per_slice.groupBy("_sl").agg(F.sum("_c").alias("_n"))
    grand = per_term.agg(F.sum("_ct").alias("_nt"))
    p = F.col("_c") / F.col("_n")
    q = F.col("_ct") / F.col("_nt")
    j = (
        per_slice.join(per_term, "term")
        .join(F.broadcast(totals), "_sl")
        .crossJoin(F.broadcast(grand))
    )
    j = with_det_ln(j, "_lnr", p / q)
    return (
        j.groupBy("_sl")
        .agg(
            F.round(F.sum(p * F.col("_lnr")) + 1e-9, 6).alias("kl"),
            F.count("*").alias("n_terms"),
        )
        .select(
            F.col("_sl").alias(slice_col),
            "kl",
            F.col("n_terms").cast("long").alias("n_terms"),
        )
    )


def winnow_matches(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    (distinct fingerprints, not positions) — the pair-level consumer of
    :func:`winnow_fingerprints`: a shared fingerprint localizes a
    shared token run, so ``n_shared`` approximates how much literal
    overlap two documents carry (the MOSS-style match report).

    Same scale discipline as the n-gram Jaccard index: fingerprints in
    more than ``max_df`` documents are dropped before pairing
    (boilerplate gate — a fingerprint's bucket yields C(df,2) pairs, so
    the cap bounds any one bucket's fan-out), and the join is
    bucket-local equi-join on the fingerprint — never all-pairs over
    the corpus.
    """
    if fps is None:  # else: a persisted winnow index (read_winnow_index)
        fps = winnow_fingerprints(
            df, k=k, w=w, text_col=text_col, id_col=id_col
        )
    fps = fps.select(F.col(id_col), F.col("fp")).distinct()
    keep = fps.groupBy("fp").agg(F.count("*").alias("_df")).where(
        F.col("_df") <= max_df
    )
    fps = fps.join(keep.select("fp"), "fp")
    a = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"))
    )


def winnow_write_index(
    df: DataFrame,
    path: str,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the winnow fingerprint table at ``path`` — the deployed
    shape (same discipline as the shingle index, dedup.py): tokenize,
    k-gram-hash and window-select ONCE per corpus at ingest; every
    match/report query reads the parquet. New docs append (their
    fingerprints are independent of every other doc's)."""
    winnow_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col
    ).write.mode("overwrite").parquet(path)


def read_winnow_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def winnow_append_index(
    new_docs: DataFrame,
    path: str,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental index maintenance: a doc's fingerprints depend only
    on its own tokens, so appending the new docs' rows IS the full
    rebuild (pytest-asserted equivalence) — no merge, no rewrite, the
    cheapest possible ingest path at any scale."""
    winnow_fingerprints(
        new_docs, k=k, w=w, text_col=text_col, id_col=id_col
    ).write.mode("append").parquet(path)


def winnow_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    fps: DataFrame | None = None,
    eval_fps: DataFrame | None = None,
) -> DataFrame:
    """Fingerprint-level decontamination: flag every training document
    sharing at least ``min_shared`` distinct winnowing fingerprints
    with the evaluation corpus — the localized-overlap upgrade of the
    n-gram screen (dedup.py ``decontaminate``): winnowing guarantees a
    fingerprint hit for ANY shared run of >= w+k-1 tokens, wherever it
    sits in the doc, while storing ~1/w of the shingles, so a
    paraphrased doc that embeds one verbatim eval passage is caught
    even when whole-doc n-gram overlap is diluted below threshold.

    Returns the flagged docs only — (id, n_shared_fp) with n_shared_fp
    counting DISTINCT fingerprints that occur anywhere in the eval
    corpus (corpus-level screen, not per-eval-doc pairing): a bounded
    report the pipeline anti-joins against the corpus.

    100 TB posture: the eval side is benchmark-sized by nature, so its
    distinct fingerprint set is broadcast and the screen is a
    map-side semi-join against the (optionally PERSISTED, build-once)
    training fingerprint index — the training corpus text is never
    re-read when ``fps`` is supplied, and nothing all-pairs.
    """
    if fps is None:  # else: a persisted winnow index (read_winnow_index)
        fps = winnow_fingerprints(
            df, k=k, w=w, text_col=text_col, id_col=id_col
        )
    if eval_fps is None:  # else: the eval slice of the same index
        eval_fps = winnow_fingerprints(
            eval_df, k=k, w=w, text_col=text_col, id_col=id_col
        )
    train_fp = fps.select(F.col(id_col), F.col("fp")).distinct()
    eval_fp = eval_fps.select("fp").distinct()
    return (
        train_fp.join(F.broadcast(eval_fp), "fp")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= min_shared)
        .select(id_col, F.col("n_shared_fp").cast("long").alias("n_shared_fp"))
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope /
    intercept / R² of ``ln(count)`` against ``ln(rank)`` for the top
    ``top_n`` terms — the corpus-health screen (natural language sits
    near slope −1; machine-generated or templated corpora fall off the
    line; a corrupted merge shows up as a broken tail).

    Plan shape (100 TB posture): term counts are one map-side-
    combinable aggregate (output = vocabulary), then the top-``top_n``
    cut uses ``orderBy().limit()`` — Spark's TakeOrdered, per-partition
    heaps, so the vocabulary is never globally sorted (the X36 rule).
    Only the ``top_n``-row survivor frame meets the ranking window and
    the single-row regression aggregate, both bounded by ``top_n``
    regardless of corpus size. Rank ties break on the term string, so
    both engines rank identically; counts and ranks are exact
    integers, making ``ln`` identical-input arithmetic on every
    engine.

    Order-free fit (VERDICT r11 #2): the OLS moments are NOT
    ``regr_slope``/``regr_r2`` — those accumulate float products in
    partition/engine order. Each log is quantized to integer
    micro-nats (:func:`micro_nats`; the 1e6 scale factors cancel in
    the slope and r² ratios) and the five moment sums run as exact
    long sums; the n·Σxy − ΣxΣy combinations, which can exceed int64
    (~1e20 at a 100 TB vocabulary), combine in decimal(38,0). Only
    the final slope/intercept/r² divisions touch floats — identical
    operands, identical IEEE ops, identical everywhere.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(tokens_col(F.lower(F.trim(F.col(text_col))))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.desc("c"), F.col("term")).limit(top_n)
    w = Window.orderBy(F.desc("c"), F.col("term"))
    ranked = top.select(
        "term", "c", F.row_number().over(w).alias("rank")
    )
    from v3io_tsdb_spark.functions.detmath import with_det_many

    ranked = with_det_many(ranked, [
        ("ln", "_lnr", F.col("rank").cast("double"), "_dlr_"),
        ("ln", "_lnc", F.col("c").cast("double"), "_dlc_"),
    ])
    lx = micro_nats(F.col("_lnr"))
    ly = micro_nats(F.col("_lnc"))
    eps = 1e-9
    dec = "decimal(38,0)"
    # second-moment sums accumulate in decimal(38,0), not long: a
    # per-term ly² reaches ~2e14 at corpus-scale counts, so an int64
    # sum would silently wrap past ~5e4 terms (DuckDB's BIGINT sums
    # widen to int128 automatically — the engines must match)
    moments = ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum(lx).alias("_sx"),
        F.sum(ly).alias("_sy"),
        F.sum((lx * ly).cast(dec)).alias("_sxy"),
        F.sum((lx * lx).cast(dec)).alias("_sxx"),
        F.sum((ly * ly).cast(dec)).alias("_syy"),
    )
    n_d = F.col("n_terms").cast(dec)
    dxy = (
        n_d * F.col("_sxy").cast(dec)
        - F.col("_sx").cast(dec) * F.col("_sy").cast(dec)
    ).cast("double")
    dxx = (
        n_d * F.col("_sxx").cast(dec)
        - F.col("_sx").cast(dec) * F.col("_sx").cast(dec)
    ).cast("double")
    dyy = (
        n_d * F.col("_syy").cast(dec)
        - F.col("_sy").cast(dec) * F.col("_sy").cast(dec)
    ).cast("double")
    slope = F.try_divide(dxy, dxx)
    scale = F.lit(1e6) * F.col("n_terms")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / scale
    r2 = F.try_divide(dxy * dxy, dxx * dyy)
    return moments.select(
        "n_terms",
        (F.round(slope + eps, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept + eps, 6) + F.lit(0.0)).alias("intercept"),
        (F.round(r2 + eps, 6) + F.lit(0.0)).alias("r2"),
    )


def logprob_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    slice_col: str = "source",
    bin_width: float = 0.5,
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus fluency profile: bucket documents by their mean unigram
    log-probability (:func:`unigram_logprob`) into fixed-width bins and
    report, per (bin × slice), the doc count, token count, and token
    share of the whole corpus — the histogram a mixture designer reads
    before setting perplexity-filter thresholds (the CCNet "head /
    middle / tail" cut generalized to arbitrary bins and slices).

    A fixed-width bin is deliberately used instead of corpus quantiles:
    bin edges are data-independent constants, so the profile is
    comparable across corpus versions and needs NO global sort or
    quantile pass — binning stays a scan-side expression over the
    doc-level frame (X51's histogram rule applied to a model score).

    Plan: unigram_logprob's term-keyed passes, a doc-keyed 1:1 join to
    recover the slice column, then one partial-aggregable (bin, slice)
    aggregate plus a broadcast 1-row totals join for the share. The
    mean logprob is rounded at 6 dp BEFORE binning so both engines
    floor bit-identical doubles (determinism boundary; a rounded value
    landing exactly on a bin edge floors identically everywhere).
    """
    eps = 1e-9
    scored = unigram_logprob(df, text_col=text_col, id_col=id_col, alpha=alpha)
    slices = df.select(F.col(id_col), F.col(slice_col))
    lp = F.round(F.col("mean_logprob") + eps, 6)
    binned = scored.join(slices, id_col).select(
        (F.floor(lp / F.lit(bin_width)) * F.lit(bin_width)).alias("bin_lo"),
        F.col(slice_col),
        F.col("n_tokens"),
    )
    # cells (bins × slices panel) feeds the totals row AND the final
    # select: shared() runs the whole unigram-model subtree once
    # (pre-r16: the entire unigram_logprob pipeline executed twice)
    cells = shared(binned.groupBy("bin_lo", slice_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    ))
    totals = cells.agg(F.sum("n_tokens").alias("_total"))
    return cells.crossJoin(F.broadcast(totals)).select(
        "bin_lo",
        slice_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_total") + eps, 6).alias("token_share"),
    )


def cooccur_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 4,
    max_df: int = 100,
    min_pair: int = 3,
    inv: tuple | None = None,
) -> DataFrame:
    """Pointwise mutual information over co-occurring n-gram shingles:
    which phrase pairs appear in the same documents far more often
    than chance — the template/boilerplate-structure detector (two
    rare phrases with high PMI are one template), and the association
    signal behind phrase-table and topic seeding.

    ``pmi = ln(N · c_ab / (c_a · c_b))`` over document frequencies,
    reported for pairs with ``c_ab >= min_pair``. All counts are exact
    integers, so the ``ln`` is identical-input arithmetic on every
    engine (6-dp rounding covers libm's last ulp).

    100 TB posture — the df-capped inverted index (the X2 Jaccard
    rule): per-doc DISTINCT shingles explode once, document
    frequencies are one term-keyed partial-aggregable pass, and ONLY
    terms with ``min_df <= df <= max_df`` enter the doc-keyed
    self-join — ``max_df`` removes boilerplate (the blowup source:
    pair volume per doc is quadratic in its kept terms, so the cap is
    the scale control, and everything it drops is chance-co-occurrence
    noise by definition: PMI of ubiquitous terms ~ 0), ``min_df``
    removes the unrepeatable tail. N (total docs) is a broadcast
    1-row aggregate; the final df lookups are term-keyed 1:1 joins.
    """
    from v3io_tsdb_spark.functions.dedup import shingles_col

    eps = 1e-9
    if inv is not None:
        # persisted shingle index (X18): postings (id, n_sh, g, h60) +
        # (g, df) sidecar — shingling and document-frequency counting
        # ran once at ingest; this query is two parquet scans (the
        # winnow-serving rule, r8 verdict #6: measured ~6s of
        # re-shingle + df-count upstream gone at sf0.1)
        postings, sidecar = inv
        idx = postings.select(F.col("id"), F.col("g"))
        dfreq = sidecar.select("g", F.col("df").alias("c"))
    else:
        idx = df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles_col(F.col(text_col), n)).alias("g"),
        )
        dfreq = idx.groupBy("g").agg(F.count("*").alias("c"))
    kept = dfreq.where((F.col("c") >= min_df) & (F.col("c") <= max_df))
    # Dictionary-encode the kept vocabulary to dense ints so the pair
    # join + count runs integer-only: the pair multiset is ~94%
    # distinct (measured sf0.1: 7.7M of 8.2M), so the count exchange
    # carries nearly every pair once — with 2 string keys + 2 longs
    # that is ~4x the bytes of (gi_a, gi_b). row_number over g is
    # order-preserving (g_a < g_b ⟺ gi_a < gi_b; kept g is distinct,
    # Spark's window and '<' share one string collation), so counts
    # and orientation are identical and the strings + df re-attach by
    # exact broadcast join-back on the ~28k surviving pairs. The
    # single-partition window rides the same bound that already lets
    # kept be BROADCAST to every executor (df-capped vocab metadata).
    # Eager checkpoint (r17, VERDICT r16 next-round #4): gid feeds
    # THREE broadcast exchanges (capped, side_a, side_b), and each
    # re-ran the whole scan→filter→exchange-to-1→sort+window chain —
    # 3× two serial constant-size stages was the r16 sf0.1 wall
    # regression. One JVM-side materialization serves all three.
    # (A driver-side dictionary — bounded collect + createDataFrame —
    # was interleave-A/B'd here first and REJECTED: the Python-backed
    # local relation added 20-40 core-s of worker spin-up per run, and
    # pinning it with a checkpoint still left the collect+pickle chain
    # ~5 s of serial driver wall per build.)
    gid = kept.select(
        "g", F.col("c").cast("long").alias("c"),
        F.row_number().over(Window.orderBy("g")).alias("gi"),
    ).localCheckpoint(eager=True)
    # capped is deliberately NOT shared(): it is postings-scale (every
    # kept occurrence), so materializing it costs more than its two
    # rebuilds — each is one pruned scan + a broadcast-sized kept join
    # (measured r16: sharing it tripled the wall on GC pressure from
    # the row-copied blocks; the duplicated subtree is the cheap kind)
    capped = idx.join(F.broadcast(gid.select("g", "gi")), "g").select("id", "gi")
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.id") == F.col("b.id")) & (F.col("a.gi") < F.col("b.gi")))
        .groupBy(F.col("a.gi").alias("_gia"), F.col("b.gi").alias("_gib"))
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_pair)
    )
    side_a = gid.select(
        F.col("gi").alias("_gia"), F.col("g").alias("term_a"), F.col("c").alias("c_a")
    )
    side_b = gid.select(
        F.col("gi").alias("_gib"), F.col("g").alias("term_b"), F.col("c").alias("c_b")
    )
    pairs = pairs.join(F.broadcast(side_a), "_gia").join(F.broadcast(side_b), "_gib")
    ndocs = df.agg(F.count("*").alias("_n"))
    out = pairs.crossJoin(F.broadcast(ndocs))
    out = with_det_ln(
        out, "_lnpmi",
        F.col("_n") * F.col("c_ab") / (F.col("c_a") * F.col("c_b")),
    )
    return out.select(
        "term_a",
        "term_b",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(F.col("_lnpmi") + eps, 6).alias("pmi"),
    )


def _bigram_structs(toks: Column) -> Column:
    """Adjacent token pairs of a token array as (w1, w2) structs;
    arrays shorter than 2 yield an empty pair list (slice with a
    negative length is an ANSI error, hence the guard)."""
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return F.when(F.size(toks) >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-doc mean bigram log-probability under the corpus's own
    add-``alpha``-smoothed bigram model: p(w2|w1) = (c(w1,w2) + α) /
    (c(w1·) + α·V), V = unigram vocabulary size. The order-sensitive
    upgrade of :func:`unigram_logprob` (CCNet-shape LM filtering):
    unigram scoring can't tell fluent prose from the same words
    shuffled — word-salad and keyword-stuffed docs share the unigram
    histogram of clean text but score low on transition probability.

    Plan shape (100 TB posture), mirroring unigram_logprob:
      1. bigrams built scan-side (``zip_with`` over the token array —
         no posexplode/self-join),
      2. per-(doc, w1, w2) counts — doc-keyed hash aggregate,
      3. corpus bigram counts — bigram-keyed, output bounded by the
         bigram vocabulary, map-side combinable,
      4. context counts c(w1·) re-aggregated FROM (3) — never a second
         pass over the data,
      5. tf ⋈ corpus on (w1,w2), ⋈ context on w1 (1:1 per row, no
         fan-out; shuffle joins — neither vocabulary is assumed
         broadcastable), the 1-row V broadcast, then a doc-keyed
         aggregate of ``c_doc · ln p``.
    Docs with fewer than 2 tokens have no bigrams and drop out, the
    same contract as unigram_logprob's empty-doc rule.
    """
    toks = tokens_col(F.lower(F.trim(F.col(text_col))))
    # base (tokenized docs) is input-scale, so it is NOT shared() —
    # materializing the token arrays would be a full corpus copy at
    # 100 TB; its two consumers (vocab pass, bigram pass) each re-scan
    # pruned parquet instead. tf and corpus ARE shared: each had two
    # consumers (pre-r16: 4 scans + 4 tokenizations per call)
    base = df.select(F.col(id_col), toks.alias("_tk"))
    vocab = base.select(F.explode("_tk").alias("term")).agg(
        F.count_distinct("term").alias("v_size")
    )
    bg = base.select(
        F.col(id_col), F.explode(_bigram_structs(F.col("_tk"))).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    tf = shared(bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("c_doc")))
    corpus = shared(tf.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c_bg")))
    ctx = corpus.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    # det_ln + micro-nats at BIGRAM level (bigram-vocabulary panel) —
    # the per-(doc, bigram) pass consumes the integer directly
    pm = with_det_ln(
        corpus.join(ctx.select("w1", "c_ctx"), "w1")
        .crossJoin(F.broadcast(vocab)),
        "_lnp",
        (F.col("c_bg") + F.lit(alpha))
        / (F.col("c_ctx") + F.lit(alpha) * F.col("v_size")),
    ).select("w1", "w2", micro_nats(F.col("_lnp")).alias("_mn"))
    return (
        tf.join(pm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("c_doc").cast("long").alias("n_bigrams"),
            F.sum(F.col("c_doc").cast("long") * F.col("_mn")).alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            (F.col("_s") / (F.lit(1e6) * F.col("n_bigrams"))).alias(
                "mean_logprob"
            ),
        )
    )


def readability_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc Flesch reading ease + Flesch-Kincaid grade (Kincaid '75
    coefficients) from regex-count proxies — the classic readability
    screen a quality-filter stack runs next to the stopword/length
    rules (quality_rules above; the reference has no text surface at
    all — SURVEY §2.10 extension).

    Proxies, chosen to be expressible identically in Spark and ANSI
    SQL (the RE2∩Java-regex discipline of scrub_pii):

    - words: ``[a-z]+`` runs of the lowercased text (alphabetic
      tokens — numbers/punctuation don't carry syllables);
    - sentences: ``[.!?]+`` terminator runs, floored at 1;
    - syllables: vowel-group runs ``[aeiouy]+`` per word, floored at 1
      per word (the standard cheap estimator; "rhythm" counts 1 via
      the y-group, trailing silent e overcounts by ~5% — a KNOWN bias
      of the proxy, stable across corpora and engines).

    flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)
    fk_grade = 0.39·(words/sentences) + 11.8·(syllables/word) − 15.59

    Docs with zero alphabetic words are dropped (no verdict). Pure
    scan-side column algebra: zero shuffle, whole-stage codegen, no
    UDF — the plan is a projection over the parquet scan.
    """
    t = F.lower(F.col(text_col))
    words = F.regexp_extract_all(t, F.lit("[a-z]+"), F.lit(0))
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_words = F.size(words)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0)))
    )
    out = docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    return out.withColumn(
        "flesch", F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    ).withColumn(
        "fk_grade", F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )


def oov_rate(
    docs: DataFrame,
    top_v: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-V
    vocabulary — the tokenizer-health screen (a doc whose tokens mostly
    fall outside the head vocabulary is boilerplate, another language,
    or byte noise; the fertility/coverage check run before committing a
    tokenizer, e.g. SentencePiece's coverage report, public).

    Vocabulary: top ``top_v`` whitespace tokens by corpus frequency,
    deterministic tie-break (count desc, token asc) — a TakeOrdered
    cut, never a global sort (the X85 zipf rule). Per doc: token count,
    OOV token count, and their ratio.

    Plan shape: one term-keyed partial-aggregable count builds the
    vocab candidates; the V-row vocab broadcasts onto the exploded
    token stream (map-side hash lookup, docs never shuffle for the
    join); the per-doc aggregate keys on the id. Two data-sized
    passes over the tokens, zero data-sized joins.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("_tok"))
    vocab = (
        exploded.groupBy("_tok")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.col("_tok"))
        .limit(top_v)
        .select("_tok", F.lit(1).alias("_in_v"))
    )
    marked = exploded.join(F.broadcast(vocab), "_tok", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn("oov_rate", F.col("n_oov") / F.col("n_tokens"))
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Vocabulary growth curve + Heaps'-law fit (Heaps '78, public):
    at each of ``n_checkpoints`` equal doc-id fractions of the corpus,
    the cumulative token count N and distinct-term vocabulary V seen
    so far, plus the log-log OLS fit V ≈ k·N^β — the
    corpus-saturation dial (β near 1 = every shard still brings new
    vocabulary, diminishing β = the crawl is converging), the growth
    sibling of the static Zipf rank-frequency fit (X75).

    The cumulative-distinct trap is the design point: a literal
    running COUNT(DISTINCT) per prefix is not partial-aggregable and
    re-scans the corpus per checkpoint. Instead each term reduces to
    its FIRST doc id (one term-keyed aggregate) — vocabulary at
    checkpoint i is then "terms whose first occurrence lands at or
    before it", a cumulative sum over per-interval first-occurrence
    counts. One pass over the data, then panel-sized windows.

    Checkpoint membership — doc d lands in interval
    ``ceil(n_cp·d / max_id)`` (clamped to 1) — is cross-engine exact
    at any realistic scale: the products are integer-exact in float64
    up to 2^53 (n_cp·max_id ~ 1e11 at 100 TB), and a misrounded
    boundary would need the true quotient within half-an-ulp of an
    integer, i.e. a remainder below max_id/1e15; both engines divide
    doubles with identical IEEE rounding either way. The fit
    runs over the ≤n_checkpoints panel rows with population moments
    and try_divide (degenerate variance → null β, the ols_trend
    rule); ln is identical-input libm arithmetic absorbed by 6dp
    rounding.
    """
    eps = 1e-9
    toks = tokens_col(F.lower(F.trim(F.col(text_col))))
    base = df.select(F.col(id_col).alias("_d"), toks.alias("_tk"))
    mx = base.agg(F.max("_d").alias("_mx"))

    def interval(dcol):
        # smallest i in 1..n_cp with n_cp*d <= i*max_id
        return F.greatest(
            F.lit(1),
            F.ceil(F.lit(n_checkpoints) * dcol / F.col("_mx")).cast("long"),
        )

    # per-interval doc + token tallies (one data-sized aggregate)
    per_doc = base.select("_d", F.size("_tk").alias("_nt"))
    doc_iv = (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(interval(F.col("_d")).alias("cp"))
        .agg(
            F.count("*").cast("long").alias("_docs"),
            F.sum("_nt").cast("long").alias("_toks"),
        )
    )
    # per-interval first-occurrence counts (term-keyed aggregate,
    # vocabulary-bounded output)
    first = (
        base.select("_d", F.explode("_tk").alias("term"))
        .groupBy("term")
        .agg(F.min("_d").alias("_fd"))
    )
    voc_iv = (
        first.crossJoin(F.broadcast(mx))
        .groupBy(interval(F.col("_fd")).alias("cp"))
        .agg(F.count("*").cast("long").alias("_terms"))
    )
    # dense checkpoint spine (an interval can be empty), then cumsums
    spine = df.sparkSession.range(1, n_checkpoints + 1).select(
        F.col("id").cast("long").alias("cp")
    )
    wcum = Window.orderBy("cp").rowsBetween(Window.unboundedPreceding, 0)
    panel = (
        spine.join(doc_iv, "cp", "left")
        .join(voc_iv, "cp", "left")
        .select(
            "cp",
            F.sum(F.coalesce(F.col("_docs"), F.lit(0))).over(wcum).alias("n_docs"),
            F.sum(F.coalesce(F.col("_toks"), F.lit(0))).over(wcum).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_terms"), F.lit(0))).over(wcum).alias("vocab"),
        )
        # the panel feeds BOTH the fit aggregate and the output rows:
        # cut the lineage (<= n_checkpoints rows) so the corpus scans
        # once, not once per consumer (the shingle-index rule)
        .localCheckpoint(eager=True)
    )
    # order-free OLS: integer micro-nat moments (micro_nats; the 1e6
    # factors cancel in beta, and the means divide exact integers), so
    # the fit no longer depends on float accumulation order — only the
    # final divisions and one exp touch floats, on identical operands.
    pts = panel.where((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
    from v3io_tsdb_spark.functions.detmath import with_det_many

    pts = with_det_many(pts, [
        ("ln", "_lnt", F.col("n_tokens").cast("double"), "_dlt_"),
        ("ln", "_lnv", F.col("vocab").cast("double"), "_dlv_"),
    ])
    pts = pts.select(
        "cp",
        micro_nats(F.col("_lnt")).alias("_x"),
        micro_nats(F.col("_lnv")).alias("_y"),
    )
    dec = "decimal(38,0)"
    mm = pts.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    n_d = F.col("_n").cast(dec)
    dxy = (
        n_d * F.col("_sxy").cast(dec)
        - F.col("_sx").cast(dec) * F.col("_sy").cast(dec)
    ).cast("double")
    dxx = (
        n_d * F.col("_sxx").cast(dec)
        - F.col("_sx").cast(dec) * F.col("_sx").cast(dec)
    ).cast("double")
    scale = F.lit(1e6) * F.col("_n")
    fit = mm.select(
        F.round(F.try_divide(dxy, dxx) + eps, 6).alias("heaps_beta"),
        (F.col("_sx").cast("double") / scale).alias("_mn"),
        (F.col("_sy").cast("double") / scale).alias("_mv"),
    )
    fit = with_det_exp(
        fit, "_ek", F.col("_mv") - F.col("heaps_beta") * F.col("_mn")
    ).select(
        "heaps_beta",
        F.round(F.col("_ek") + eps, 6).alias("heaps_k"),
    )
    return panel.crossJoin(F.broadcast(fit)).select(
        "cp", "n_docs", "n_tokens", "vocab", "heaps_k", "heaps_beta"
    )


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-doc mean bigram log-probability under interpolated
    Kneser-Ney smoothing (Kneser & Ney '95, Chen & Goodman '98 —
    public) — the LM-filtering upgrade of the add-α bigram model
    (:func:`bigram_logprob`): the backoff distribution is the
    CONTINUATION probability (in how many distinct contexts does w2
    appear, over the distinct-bigram total), not raw frequency — the
    classic "San Francisco" correction where add-α overrates
    "Francisco" after everything because the unigram is common,
    while KN knows it only ever follows "San".

        p_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/B

    with D = ``discount``, N1+(w1·)/N1+(·w2) the distinct right/left
    neighbor counts and B the distinct-bigram total. Scoring the
    corpus against itself, every scored bigram is seen, so the
    max(·,0) arm is live but the model needs no unseen-mass path.

    Determinism: every term is a ratio of exact integers and the one
    float literal D, and the per-bigram log is quantized to integer
    micro-nats before the doc-keyed sum (:func:`micro_nats`), so the
    mean is order-free in both engines.

    Plan shape — bigram_logprob's five stages plus two PANEL
    aggregates, nothing extra over the data: continuation counts
    N1+(·w2) and fan-out counts N1+(w1·) are row-counts OVER the
    corpus bigram table (it is distinct by construction), and B is a
    1-row broadcast — none of them re-touch raw text.
    """
    toks = tokens_col(F.lower(F.trim(F.col(text_col))))
    base = df.select(F.col(id_col), toks.alias("_tk"))
    bg = base.select(
        F.col(id_col), F.explode(_bigram_structs(F.col("_tk"))).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    # tf has 2 consumers, corpus 4 (ctx/cont/btot/panel): shared()
    # computes each once (pre-r16: 5 scans + 5 explodes per call, and
    # perplexity_buckets doubled that again)
    tf = shared(bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("c_doc")))
    corpus = shared(tf.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c_bg")))
    ctx = corpus.groupBy("w1").agg(
        F.sum("c_bg").alias("c_ctx"),
        F.count("*").cast("long").alias("n_follow"),  # N1+(w1·)
    )
    cont = corpus.groupBy("w2").agg(
        F.count("*").cast("long").alias("n_precede")  # N1+(·w2)
    )
    btot = corpus.agg(F.count("*").cast("long").alias("b_total"))
    d = F.lit(discount)
    p_kn = (
        F.greatest(F.col("c_bg") - d, F.lit(0.0)) / F.col("c_ctx")
        + d * F.col("n_follow") / F.col("c_ctx")
        * (F.col("n_precede") / F.col("b_total"))
    )
    # det_ln + micro-nats at BIGRAM level (the corpus⋈ctx⋈cont panel,
    # bigram-vocabulary-sized) — per-(doc, bigram) rows consume integers
    pm = with_det_ln(
        corpus.join(ctx, "w1").join(cont, "w2").crossJoin(F.broadcast(btot)),
        "_lnp", p_kn,
    ).select("w1", "w2", micro_nats(F.col("_lnp")).alias("_mn"))
    return (
        tf.join(pm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("c_doc").cast("long").alias("n_bigrams"),
            F.sum(F.col("c_doc").cast("long") * F.col("_mn")).alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                F.col("_s") / (F.lit(1e6) * F.col("n_bigrams")) + 1e-9, 6
            ).alias("mean_logprob"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    discount: float = 0.75,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek '19, public): score
    every doc under the corpus LM (:func:`kn_bigram_logprob`), then
    split each language into head / middle / tail TERCILES of the
    score — the standard pre-training data triage (head = fluent,
    tail = noise candidates), here with the in-repo KN bigram model
    standing in for CCNet's external KenLM.

    Per-language boundaries, not global: perplexity is not comparable
    across languages (different bigram entropy floors) — the CCNet
    design point. Terciles come from EXACT interpolated percentiles
    over each language's 6dp-rounded scores, compared with the rfm
    threshold rule (round both sides) so boundary docs bucket
    identically in every engine; the boundary table is
    |languages|-sized and broadcast — no rank window, no global sort.

    Output: (doc_id, lang, mean_logprob, bucket) with bucket in
    {'head','middle','tail'} (higher logprob = head).
    """
    eps = 1e-9
    # scored (per-doc KN scores + lang) feeds the tercile aggregate AND
    # the final bucket join: shared() runs the whole KN model once
    # (pre-r16 this duplicated the entire kn_bigram_logprob tree —
    # 12 executed parquet scans / 10 explodes in the final AQE plan)
    scored = shared(
        kn_bigram_logprob(df, text_col=text_col, id_col=id_col,
                          discount=discount)
        .join(df.select(id_col, lang_col), id_col)
    )
    s6 = F.round(F.col("mean_logprob") + eps, 6)
    qs = scored.groupBy(lang_col).agg(
        F.percentile(s6, F.lit(1.0 / 3.0)).alias("_q33"),
        F.percentile(s6, F.lit(2.0 / 3.0)).alias("_q67"),
    )
    q33 = F.round(F.col("_q33") + eps, 6)
    q67 = F.round(F.col("_q67") + eps, 6)
    bucket = (
        F.when(s6 > q67, F.lit("head"))
        .when(s6 > q33, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(qs), lang_col)
        .select(id_col, lang_col, "mean_logprob", bucket.alias("bucket"))
    )
