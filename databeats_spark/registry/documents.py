"""Document-table inventory: the training-data-pipeline text surface.

Exact dedup, n-gram Jaccard near-dup, token/quality/language analysis,
content fingerprinting, binary-column (multimodal) plumbing. The
MinHash-LSH and SimHash scale paths live in operators/dedup.py and are
registered in vectors.py as rows-only checks (their banding internals
aren't SQL-expressible); the exact ``ngram_jaccard_pairs`` oracle here
is their ground-truth verifier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databeats_spark.functions.text import (
    LANG_MARKERS,
    PII_PATTERNS,
    dup_ngram_fraction,
    fingerprint,
    lang_guess,
    mean_token_length,
    pii_counts,
    quality_score,
    scrub_pii,
    stopword_count,
    token_count,
    top_token_fraction,
    word_shingles,
)
from databeats_spark.operators.dedup import (
    banded_hamming_pairs, dedup_exact, ngram_jaccard_pairs,
)
from databeats_spark.registry import QuerySpec
from databeats_spark.sources.tables import load_tables, spread

# brute-force pair queries are bounded to this many docs — the exact
# O(n²) verifier; the LSH operators handle the full corpus.
PAIR_DOC_LIMIT = 300
JACCARD_THRESHOLD = 0.5


def _dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    out = dedup_exact(t.documents, "doc_id", "text")
    return out.select("fp", F.col("keep_id").cast("long"), F.col("n_copies").cast("long")).orderBy("fp")


_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
ORDER BY fp
"""


def _doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t.documents.select(
            "doc_id",
            fingerprint("text").alias("fp"),
            F.md5(F.concat_ws(" ", F.slice(F.split(F.trim("text"), r"\s+"), 1, 8))).alias("prefix_fp"),
        )
        .orderBy("doc_id")
    )


_DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' ')) AS prefix_fp
FROM documents
ORDER BY doc_id
"""


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t.documents.select(
            "doc_id",
            token_count("text").cast("long").alias("n_tokens"),
            F.length("text").cast("long").alias("n_chars"),
            F.round(mean_token_length("text"), 6).alias("mean_tok_len"),
            stopword_count("text", LANG_MARKERS["en"]).cast("long").alias("en_stopwords"),
            quality_score("text").alias("quality"),
        )
        .orderBy("doc_id")
    )


def _text_stats_sql() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    # mirror functions/text.py exactly: quality = (len_component +
    # punct_component + stop_component) / 3, rounded to 6
    punct = r"[.,;:!?'\"()\[\]{}<>/\\|@#$%^&*_+=~`-]"
    punct_sql = punct.replace("'", "''")
    return f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, text, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(toks, x -> x IN ({en}))) AS BIGINT) AS en_stopwords
  FROM t
)
SELECT doc_id, n_tokens, CAST(n_chars AS BIGINT) AS n_chars,
       round(mtl, 6) AS mean_tok_len,
       en_stopwords,
       round((
         (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.5 END)
         + (1.0 - least((n_chars - length(regexp_replace(text, '{punct_sql}', '', 'g'))) * 1.0 / greatest(n_chars, 1) * 5, 1.0))
         + least(en_stopwords * 1.0 / greatest(n_tokens, 1) * 10, 1.0)
       ) / 3, 6) AS quality
FROM m
ORDER BY doc_id
"""


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # marker scoring is compute-bound (one array filter per language):
    # spread a few-split scan before the heavy expressions
    t.documents = spread(t.documents, spark)
    return (
        t.documents.select("doc_id", F.col("lang").alias("labeled_lang"), lang_guess("text").alias("lang_guess"))
        .orderBy("doc_id")
    )


def _lang_guess_sql_parts() -> tuple[str, str]:
    """The DuckDB replica of functions/text.py lang_guess, shared by
    _lang_id_sql and _lang_label_noise_sql: per-language marker-hit
    score columns + the running-argmax CASE chain (strict '>' in dict
    order — first language wins ties, 'und' if all zero)."""
    score_cols = []
    for lang, marks in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in marks)
        score_cols.append(f"len(list_filter(toks, x -> x IN ({lst}))) AS s_{lang}")
    best_expr = "'und'"
    best_score = "0"
    for lang in LANG_MARKERS:
        best_expr = f"CASE WHEN s_{lang} > {best_score} THEN '{lang}' ELSE {best_expr} END"
        best_score = f"greatest(s_{lang}, {best_score})"
    return ", ".join(score_cols), best_expr


def _lang_id_sql() -> str:
    score_cols_sql, best_expr = _lang_guess_sql_parts()
    score_cols = [score_cols_sql]
    return f"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, lang, {", ".join(score_cols)} FROM t
)
SELECT doc_id, lang AS labeled_lang, {best_expr} AS lang_guess
FROM s
ORDER BY doc_id
"""


# --- Q: lang_id_calibration — reliability diagram of the lang IDer ----
# Model-calibration audit (the pre-deploy check for ANY scoring gate in
# the curation funnel, done here on the oracle-replicable lang-id
# heuristic): confidence = (best_hits + 1) / (total_hits + 2) — the
# rule-of-succession smoothed share, a RATIONAL of two BIGINTs (the raw
# best/total collapses to 1.0 because most docs hit only one language's
# markers; smoothing makes confidence grow with EVIDENCE STRENGTH, so
# one marker hit ≈ 0.67 and five ≈ 0.86) — bucketed into 10 fixed bins,
# per bin the observed accuracy against the stored label and the
# calibration gap |accuracy - bin midpoint|. Everything is integer
# until the two per-bin divisions (ratio recipe). Zero-marker docs
# carry no confidence and are excluded. One corpus pass, ≤10 rows out.
CALIB_BINS = 10


def _lang_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, guess, best, total) per marker-carrying doc — the Spark
    front of lang_id_calibration, brier_decomposition and
    isotonic_calibration; _lang_scored_ctes is the DuckDB half."""
    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    base = docs.select(
        "doc_id", "lang", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    def _marker_hits(marks):
        # closure factory: a defaulted second lambda param would make
        # PySpark treat this as an (element, index) HOF lambda
        markers = F.array(*[F.lit(m) for m in marks])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(markers, x)))

    score_cols = [
        _marker_hits(marks).cast("bigint").alias(f"s_{lang}")
        for lang, marks in LANG_MARKERS.items()
    ]
    s = base.select("doc_id", "lang", *score_cols)
    # first-wins strictly-greater argmax in dict order — the exact
    # semantics of functions/text.py::lang_guess and its SQL replica
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for lang in LANG_MARKERS:
        best_lang = F.when(F.col(f"s_{lang}") > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(F.col(f"s_{lang}"), best_score)
    total = None
    for lang in LANG_MARKERS:
        total = F.col(f"s_{lang}") if total is None else total + F.col(f"s_{lang}")
    return s.select(
        "lang",
        best_lang.alias("guess"),
        best_score.alias("best"),
        total.cast("bigint").alias("total"),
    ).filter(F.col("total") > 0)


def _calib_bucket() -> Column:
    """The calibration bin of a scored doc: its rule-of-succession
    confidence (best + 1) / (total + 2) cut into CALIB_BINS equal bins."""
    return F.least(
        F.floor(
            F.lit(CALIB_BINS) * (F.col("best") + F.lit(1)) / (F.col("total") + F.lit(2))
        ),
        F.lit(CALIB_BINS - 1),
    ).cast("bigint")


def _calib_binned(scored: DataFrame) -> DataFrame:
    """(bucket, n, n_correct) per calibration bin of the scored docs."""
    return scored.groupBy(_calib_bucket().alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("guess") == F.col("lang")).cast("bigint"))
        .cast("bigint")
        .alias("n_correct"),
    )


def _lang_scored_ctes() -> str:
    """t → s (marker hits per language) → scored (lang, guess, best,
    total per marker-carrying doc): the DuckDB half of _lang_scored."""
    score_cols_sql, best_expr = _lang_guess_sql_parts()
    total = " + ".join(f"s_{lang}" for lang in LANG_MARKERS)
    best_score = "0"
    for lang in LANG_MARKERS:
        best_score = f"greatest(s_{lang}, {best_score})"
    return f"""t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, lang, {score_cols_sql} FROM t
), scored AS (
  SELECT lang, {best_expr} AS guess,
         CAST({best_score} AS BIGINT) AS best,
         CAST({total} AS BIGINT) AS total
  FROM s
  WHERE {total} > 0
)"""


# (bucket, n, n_correct) per calibration bin: the DuckDB half of _calib_binned
_CALIB_BINNED_CTE = f"""binned AS (
  SELECT CAST(least(floor({CALIB_BINS} * (best + 1) / (total + 2)), {CALIB_BINS - 1}) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN guess = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM scored GROUP BY 1
)"""


def _lang_id_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    binned = _calib_binned(_lang_scored(spark, sf_dir))
    conf_mid = (F.col("bucket").cast("double") + F.lit(0.5)) / F.lit(float(CALIB_BINS))
    acc = F.col("n_correct").cast("double") / F.col("n").cast("double")
    return binned.select(
        "bucket",
        F.round(conf_mid, 6).alias("conf_mid"),
        "n",
        "n_correct",
        F.round(acc, 6).alias("accuracy"),
        F.round(F.abs(acc - conf_mid), 6).alias("calibration_gap"),
    ).orderBy("bucket")


def _lang_id_calibration_sql() -> str:
    b = CALIB_BINS
    return f"""
WITH {_lang_scored_ctes()}, {_CALIB_BINNED_CTE}
SELECT bucket,
       round((CAST(bucket AS DOUBLE) + 0.5) / {float(b)!r}, 6) AS conf_mid,
       n, n_correct,
       round(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
       round(abs(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(bucket AS DOUBLE) + 0.5) / {float(b)!r}), 6) AS calibration_gap
FROM binned
ORDER BY bucket
"""


# --- Q: brier_decomposition — Murphy decomposition of the lang IDer ----
# The single-number companion to lang_id_calibration's reliability
# diagram: Murphy (1973) splits the Brier score of the binned forecast
# into REL − RES + UNC —
#   REL = Σ n_k (p̄_k − ō_k)² / N   (miscalibration, lower better)
#   RES = Σ n_k (ō_k − ō)² / N     (discrimination, higher better)
#   UNC = ō(1 − ō)                  (task difficulty, forecast-free)
# with p̄_k the mean rule-of-succession confidence in bin k, ō_k the
# bin accuracy, ō overall accuracy. The raw (unbinned) Brier
# Σ(p − o)²/N rides the same single corpus pass as a per-bin partial
# sum. Everything downstream of the one bucket aggregate is arithmetic
# over a ≤CALIB_BINS-row table (checkpointed once; scalars via keyless
# aggregate); identity brier_binned = REL − RES + UNC is pinned by the
# replica pytest.

def _brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (F.col("best") + F.lit(1)).cast("double") / (F.col("total") + F.lit(2))
    o = (F.col("guess") == F.col("lang")).cast("bigint")
    bins = (
        _lang_scored(spark, sf_dir)
        .select(_calib_bucket().alias("bucket"), p.alias("p"), o.alias("o"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("p").alias("sum_p"),
            F.sum("o").cast("bigint").alias("n_correct"),
            F.sum((F.col("p") - F.col("o")) * (F.col("p") - F.col("o"))).alias(
                "sse"
            ),
        )
        .localCheckpoint(eager=False)
    )
    tot = bins.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_correct").cast("bigint").alias("oo"),
        F.sum("sse").alias("sse_all"),
    )
    obar = F.col("oo").cast("double") / F.col("nn").cast("double")
    pbar_k = F.col("sum_p") / F.col("n").cast("double")
    obar_k = F.col("n_correct").cast("double") / F.col("n").cast("double")
    comps = (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "nn",
            "oo",
            "sse_all",
            (
                F.col("n").cast("double") * (pbar_k - obar_k) * (pbar_k - obar_k)
            ).alias("rel_k"),
            (F.col("n").cast("double") * (obar_k - obar) * (obar_k - obar)).alias(
                "res_k"
            ),
        )
        .groupBy("nn", "oo")
        .agg(
            F.max("sse_all").alias("sse_all"),
            F.sum("rel_k").alias("rel_sum"),
            F.sum("res_k").alias("res_sum"),
        )
    )
    nnd = F.col("nn").cast("double")
    ob = F.col("oo").cast("double") / nnd
    return comps.select(
        F.col("nn").alias("n_docs"),
        F.col("oo").alias("n_correct"),
        F.round(F.col("sse_all") / nnd, 6).alias("brier"),
        F.round(F.col("rel_sum") / nnd, 6).alias("reliability"),
        F.round(F.col("res_sum") / nnd, 6).alias("resolution"),
        F.round(ob * (1.0 - ob), 6).alias("uncertainty"),
    )


def _brier_decomposition_sql() -> str:
    b = CALIB_BINS
    return f"""
WITH {_lang_scored_ctes()}, po AS (
  SELECT CAST(least(floor({b} * (best + 1) / (total + 2)), {b - 1}) AS BIGINT) AS bucket,
         CAST(best + 1 AS DOUBLE) / (total + 2) AS p,
         CAST(CASE WHEN guess = lang THEN 1 ELSE 0 END AS BIGINT) AS o
  FROM scored
), bins AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n,
         sum(p) AS sum_p,
         CAST(sum(o) AS BIGINT) AS n_correct,
         sum((p - o) * (p - o)) AS sse
  FROM po GROUP BY bucket
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(n_correct) AS BIGINT) AS oo,
         sum(sse) AS sse_all
  FROM bins
)
SELECT t.nn AS n_docs, t.oo AS n_correct,
       round(max(t.sse_all) / CAST(t.nn AS DOUBLE), 6) AS brier,
       round(sum(CAST(b.n AS DOUBLE)
                 * (b.sum_p / CAST(b.n AS DOUBLE)
                    - CAST(b.n_correct AS DOUBLE) / CAST(b.n AS DOUBLE))
                 * (b.sum_p / CAST(b.n AS DOUBLE)
                    - CAST(b.n_correct AS DOUBLE) / CAST(b.n AS DOUBLE)))
             / CAST(t.nn AS DOUBLE), 6) AS reliability,
       round(sum(CAST(b.n AS DOUBLE)
                 * (CAST(b.n_correct AS DOUBLE) / CAST(b.n AS DOUBLE)
                    - CAST(t.oo AS DOUBLE) / CAST(t.nn AS DOUBLE))
                 * (CAST(b.n_correct AS DOUBLE) / CAST(b.n AS DOUBLE)
                    - CAST(t.oo AS DOUBLE) / CAST(t.nn AS DOUBLE)))
             / CAST(t.nn AS DOUBLE), 6) AS resolution,
       round((CAST(t.oo AS DOUBLE) / CAST(t.nn AS DOUBLE))
             * (1.0 - CAST(t.oo AS DOUBLE) / CAST(t.nn AS DOUBLE)), 6) AS uncertainty
FROM bins b CROSS JOIN tot t
GROUP BY t.nn, t.oo
"""


# --- Q: isotonic_calibration — closed-form PAVA over the bins (r11) ----
# The FIX for what lang_id_calibration diagnoses: the isotonic
# (monotone-nondecreasing) regression of bin accuracy on confidence —
# the calibration map a scoring gate would apply at serve time.
# Instead of iterating pool-adjacent-violators, use the minimax
# identity (Robertson-Wright-Dykstra 1988):
#   iso_i = max_{j<=i} min_{k>=i} wavg(acc[j..k])
# over B<=10 bins — every weighted average is ONE division of two
# prefix-sum BIGINTs, and the nest is min/max (order-free exact double
# comparisons, ZERO order-exposed double sums). Relations: the bin
# table (LIMIT-bounded semantic no-op), its j<=k self-pairs (<=55
# rows), and the (bin x pair) triangle (<=550) — all bounded in the
# plan, so the non-equi joins are lint-clean BNLJ over literal-small
# sides. The pytest pins equality with an independent pure-Python PAVA
# sweep (the two algorithms agree exactly — the identity, verified).

def _isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    binned = _calib_binned(_lang_scored(spark, sf_dir)).limit(CALIB_BINS)
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pref = binned.select(
        "bucket",
        "n",
        "n_correct",
        F.sum("n").over(w).cast("bigint").alias("ncum"),
        F.sum("n_correct").over(w).cast("bigint").alias("ccum"),
    )
    lo = pref.select(
        F.col("bucket").alias("jb"),
        (F.col("ncum") - F.col("n")).alias("n_before"),
        (F.col("ccum") - F.col("n_correct")).alias("c_before"),
    )
    hi = pref.select(
        F.col("bucket").alias("kb"),
        F.col("ncum").alias("n_k"),
        F.col("ccum").alias("c_k"),
    )
    a = (F.col("c_k") - F.col("c_before")).cast("double") / (
        F.col("n_k") - F.col("n_before")
    ).cast("double")
    pairs = lo.join(hi, F.col("jb") <= F.col("kb")).select(
        "jb", "kb", a.alias("a")
    )
    tri = binned.select(F.col("bucket").alias("i")).join(
        pairs, (F.col("jb") <= F.col("i")) & (F.col("i") <= F.col("kb"))
    )
    fit = (
        tri.groupBy("i", "jb")
        .agg(F.min("a").alias("m"))
        .groupBy("i")
        .agg(F.max("m").alias("iso"))
    )
    conf_mid = (F.col("bucket").cast("double") + F.lit(0.5)) / F.lit(
        float(CALIB_BINS)
    )
    acc = F.col("n_correct").cast("double") / F.col("n").cast("double")
    return (
        binned.join(fit, binned.bucket == fit.i)
        .select(
            "bucket",
            F.round(conf_mid, 6).alias("conf_mid"),
            "n",
            "n_correct",
            F.round(acc, 6).alias("accuracy"),
            F.round("iso", 6).alias("isotonic_acc"),
        )
        .orderBy("bucket")
    )


def _isotonic_calibration_sql() -> str:
    b = CALIB_BINS
    return f"""
WITH {_lang_scored_ctes()}, {_CALIB_BINNED_CTE}, pref AS (
  SELECT bucket, n, n_correct,
         CAST(sum(n) OVER wo AS BIGINT) AS ncum,
         CAST(sum(n_correct) OVER wo AS BIGINT) AS ccum
  FROM binned
  WINDOW wo AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pairs AS (
  SELECT lo.bucket AS jb, hi.bucket AS kb,
         CAST(hi.ccum - (lo.ccum - lo.n_correct) AS DOUBLE)
         / CAST(hi.ncum - (lo.ncum - lo.n) AS DOUBLE) AS a
  FROM pref lo JOIN pref hi ON lo.bucket <= hi.bucket
), fit AS (
  SELECT i, max(m) AS iso
  FROM (
    SELECT bi.bucket AS i, p.jb, min(p.a) AS m
    FROM binned bi JOIN pairs p ON p.jb <= bi.bucket AND bi.bucket <= p.kb
    GROUP BY 1, 2
  )
  GROUP BY i
)
SELECT bi.bucket,
       round((CAST(bi.bucket AS DOUBLE) + 0.5) / {float(b)!r}, 6) AS conf_mid,
       bi.n, bi.n_correct,
       round(CAST(bi.n_correct AS DOUBLE) / CAST(bi.n AS DOUBLE), 6) AS accuracy,
       round(f.iso, 6) AS isotonic_acc
FROM binned bi JOIN fit f ON f.i = bi.bucket
ORDER BY bi.bucket
"""


# --- Q: lang_label_noise — provenance label-noise rollup --------------
# The audit on top of lang_id: how often does the stored language
# label disagree with the heuristic guess, per labeled language — the
# label-noise rate a training mix keyed on `lang` silently inherits
# (mislabeled docs poison per-language sampling quotas and per-lang
# quality bands). Reuses the hash-matched lang_guess replica verbatim
# (one shared SQL builder), so the disagreement column is certified by
# the same dual-engine argmax. One corpus pass, 5-row output.

def _lang_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    t.documents = spread(t.documents, spark)
    disagree = (F.col("guess") != F.col("labeled_lang")).cast("bigint")
    return (
        t.documents.select(
            F.col("lang").alias("labeled_lang"), lang_guess("text").alias("guess")
        )
        .groupBy("labeled_lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(disagree).cast("bigint").alias("n_disagree"),
            F.round(F.sum(disagree) / F.count(F.lit(1)), 6).alias("disagree_share"),
        )
        .orderBy("labeled_lang")
    )


def _lang_label_noise_sql() -> str:
    score_cols_sql, best_expr = _lang_guess_sql_parts()
    return f"""
WITH t AS (
  SELECT lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT lang, {score_cols_sql} FROM t
), g AS (
  SELECT lang AS labeled_lang, {best_expr} AS guess FROM s
)
SELECT labeled_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN guess <> labeled_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disagree,
       round(sum(CASE WHEN guess <> labeled_lang THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS disagree_share
FROM g
GROUP BY labeled_lang
ORDER BY labeled_lang
"""


# --- Q: lang_id_kappa — chance-corrected label agreement --------------
# lang_label_noise reports the raw disagreement rate; the QA metric a
# labeling team actually compares across segments is Cohen's kappa,
# which discounts the agreement two skewed marginals produce by
# chance (a source that is 95% English scores 0.95 accuracy with a
# constant-'en' guesser — kappa correctly scores it 0). Per source:
# kappa = (n·agree − Σ_l n_label(l)·n_guess(l)) /
#         (n² − Σ_l n_label(l)·n_guess(l))
# — ONE division of two exact BIGINT polynomials (no float sums), on
# the same certified lang_guess replica the noise rollup shares.
# Range note: n² caps the exact form at ~3e9 docs per source (BIGINT);
# beyond that compute the two polynomial terms in DOUBLE — the
# chance-correction loses nothing measurable at that n.

def _lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    t.documents = spread(t.documents, spark)
    g = t.documents.select(
        "source", F.col("lang").alias("labeled_lang"), lang_guess("text").alias("guess")
    )
    base = g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("guess") == F.col("labeled_lang")).cast("bigint"))
        .cast("bigint")
        .alias("agree"),
    )
    n_label = g.groupBy("source", F.col("labeled_lang").alias("l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    n_guess = g.groupBy("source", F.col("guess").alias("l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    chance = (
        n_label.join(n_guess, ["source", "l"])
        .groupBy("source")
        .agg(F.sum(F.col("nl") * F.col("ng")).cast("bigint").alias("sp"))
    )
    return (
        base.join(chance, "source")
        .select(
            "source",
            "n_docs",
            "agree",
            # degenerate-marginal guard (can trigger at sweep SFs with
            # 2-3 docs per source): pe == 1 makes kappa 0/0 — define it
            # as 1 on perfect agreement, 0 otherwise, on BOTH engines
            F.round(
                F.when(
                    F.col("n_docs") * F.col("n_docs") == F.col("sp"),
                    F.when(F.col("agree") == F.col("n_docs"), F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    ),
                ).otherwise(
                    (F.col("n_docs") * F.col("agree") - F.col("sp"))
                    / (F.col("n_docs") * F.col("n_docs") - F.col("sp"))
                ),
                6,
            ).alias("kappa"),
        )
        .orderBy("source")
    )


def _lang_id_kappa_sql() -> str:
    score_cols_sql, best_expr = _lang_guess_sql_parts()
    return f"""
WITH t AS (
  SELECT source, lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT source, lang, {score_cols_sql} FROM t
), g AS (
  SELECT source, lang AS labeled_lang, {best_expr} AS guess FROM s
), base AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN guess = labeled_lang THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM g GROUP BY source
), n_label AS (
  SELECT source, labeled_lang AS l, CAST(count(*) AS BIGINT) AS nl
  FROM g GROUP BY 1, 2
), n_guess AS (
  SELECT source, guess AS l, CAST(count(*) AS BIGINT) AS ng
  FROM g GROUP BY 1, 2
), chance AS (
  SELECT a.source, CAST(sum(a.nl * b.ng) AS BIGINT) AS sp
  FROM n_label a JOIN n_guess b ON a.source = b.source AND a.l = b.l
  GROUP BY a.source
)
SELECT base.source, base.n_docs, base.agree,
       round(CASE WHEN base.n_docs * base.n_docs = chance.sp
                  THEN CASE WHEN base.agree = base.n_docs THEN 1.0 ELSE 0.0 END
                  ELSE (base.n_docs * base.agree - chance.sp) * 1.0
                       / (base.n_docs * base.n_docs - chance.sp) END, 6) AS kappa
FROM base JOIN chance ON chance.source = base.source
ORDER BY base.source
"""


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT)
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD)
    return out.select(
        "id_a", "id_b", F.col("common").cast("long").alias("common"), F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _shingle_ctes(limit: int) -> str:
    """The oracle's word-3-shingle chain over ``doc_id < limit``: t
    (tokens) → s (distinct shingles per doc) → sized (doc_id, n) → e
    (one row per doc and shingle). Every shingle-pair oracle starts
    here; the pair step is :func:`_pairs_ctes` or the query's own."""
    return f"""t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < {limit}
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
), sized AS (
  SELECT doc_id, len(shingles) AS n FROM s
), e AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s
)"""


def _pairs_ctes(limit: int) -> str:
    """Shingle → invert → count-common: :func:`_shingle_ctes` plus
    pairs (id_a < id_b, common) — the prefix of the Jaccard-pair and
    connected-components oracles over ``doc_id < limit``."""
    return _shingle_ctes(limit) + """, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


_PAIRS_CTES = _pairs_ctes(PAIR_DOC_LIMIT)

# the near-dup graph's connected components over the pairs above:
# qual (pairs at JACCARD_THRESHOLD) → symmetric edges → recursive
# reachability → comp (doc_id, min reachable label). The oracle prefix
# of every connected-components query over the verifier slice.
_CLOSURE_CTES = f"""WITH RECURSIVE {_PAIRS_CTES},
qual AS (
  SELECT id_a, id_b
  FROM pairs
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM qual
  UNION
  SELECT id_b, id_a FROM qual
),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
),
comp AS (
  SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
)"""


def _closure_components(docs: DataFrame) -> DataFrame:
    """The Spark side of ``_CLOSURE_CTES``: (node, component) over
    ``docs``, the ``doc_id < PAIR_DOC_LIMIT`` slice — word-3-shingle
    Jaccard pairs at JACCARD_THRESHOLD, closed by min-label connected
    components. Every builder whose oracle embeds ``_CLOSURE_CTES``
    calls it."""
    from databeats_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD)
    return connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

_NEAR_DUP_PAIRS_SQL = f"""
WITH {_PAIRS_CTES}
SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sized sa ON sa.doc_id = id_a
JOIN sized sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.n + sb.n - common) >= {JACCARD_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- Q: posexplode_tokens — positional explode (token, position) ----------
# Position-aware flattening: the shape positional n-grams, alignment,
# and span labeling build on. Oracle = unnest(list_zip(toks, range)).

POSEXPLODE_DOC_LIMIT = 20


def _posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t.documents.filter(F.col("doc_id") < POSEXPLODE_DOC_LIMIT)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
        .orderBy("doc_id", "pos")
    )


_POSEXPLODE_TOKENS_SQL = f"""
SELECT doc_id, CAST(u[2] AS BIGINT) AS pos, u[1] AS tok
FROM (
  SELECT doc_id, unnest(list_zip(toks, range(0, len(toks)))) AS u
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE doc_id < {POSEXPLODE_DOC_LIMIT})
)
ORDER BY doc_id, pos
"""


# --- Q: dedup_components — transitive closure of the near-dup graph ------
# Iterative min-label propagation on Spark (operators/graph.py),
# oracle'd by a recursive CTE computing reachability — an ITERATIVE
# algorithm with an exact SQL ground truth.

def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    comps = _closure_components(t.documents.filter(F.col("doc_id") < PAIR_DOC_LIMIT))
    return (
        comps.select(F.col("node").alias("doc_id"), "component")
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")).cast("long"),
        )
        .orderBy("component", "doc_id")
    )


_DEDUP_COMPONENTS_SQL = f"""
{_CLOSURE_CTES}
SELECT doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
FROM comp
ORDER BY component, doc_id
"""


TFIDF_DOC_LIMIT = 50
TFIDF_TOP_TERMS = 5


def _tf_idf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF relevance: top terms per document. Pure arithmetic
    (count ratios × ln(N/df)) so the score hash-matches the SQL oracle;
    ln is the same IEEE op on both engines."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents
    n_docs = docs.select(F.count(F.lit(1)).alias("n")).first()["n"]

    terms = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.filter(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .join(F.broadcast(df_counts), "term")
        .withColumn("tf_idf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf_idf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("tf_idf", 6).alias("tf_idf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("doc_id", "rnk")
    )


_TF_IDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfc AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df) AS tf_idf
  FROM tf JOIN dfc USING (term), n
  WHERE tf.doc_id < {TFIDF_DOC_LIMIT}
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(tf_idf, 6) AS tf_idf, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS rnk
  FROM scored
) WHERE rnk <= {TFIDF_TOP_TERMS}
ORDER BY doc_id, rnk
"""


def _multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text → binary payload → byte length +
    content hash. Stands in for image/audio payload handling — the
    decode/feature UDFs live in operators/multimodal.py (stubbed —
    codec libs absent); this proves the schema + hashing path."""
    t = load_tables(spark, sf_dir, ["documents"])
    payload = F.encode(F.col("text"), "utf-8")
    return (
        t.documents.select(
            "doc_id",
            F.length(payload).cast("long").alias("byte_len"),
            F.sha2(payload, 256).alias("sha_hex"),
        )
        .orderBy("doc_id")
    )


_MULTIMODAL_BYTES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha_hex
FROM documents
ORDER BY doc_id
"""


# --- Q: phash_near_dups — perceptual near-dup over media payloads ----
# The cheap pre-embedding dedup tier for images/frames (r7 VERDICT
# item 7): dHash signatures (operators/multimodal.py::dhash_payloads,
# Arrow-batched tiny-image downsample + gradient signs) fed through
# the SimHash pigeonhole banding
# (operators/dedup.py::banded_hamming_pairs). The signature stage is
# mapInPandas → no SQL oracle (rows-only); semantics are pinned by
# test_multimodal's planted-dup recall test, and the banding/verify
# arithmetic is oracle-certified by phash_near_dups_exact below.

def _phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.multimodal import (
        attach_payload, perceptual_near_dups,
    )
    from databeats_spark.sources.tables import spread

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    pairs = perceptual_near_dups(attach_payload(docs), hamming_max=3)
    return pairs.orderBy("id_a", "id_b")


# --- Q: phash_near_dups_exact — oracle twin of the perceptual tier ---
# The production search (operators/dedup.py::banded_hamming_pairs) run
# on an engine-shared deterministic signature in place of the numpy
# tiny-image dHash, which DuckDB cannot reproduce: bit b is the HIGH
# BIT of hex digit b of md5(text) (digit >= '8'), the md5 of the exact
# payload bytes the production op hashes (payload = utf-8 of text on
# both engines). The oracle carries that signature as a '0'/'1' STRING
# and bands/verifies it per character (_md5_band_ctes); the Spark side
# packs the same bits into a BIGINT (_md5_bits) for the production
# BIGINT banding (4 blocks → any pair within hamming 3 collides on
# >= 1 block) and bit_count verify. 20 bits, not the production 64:
# md5 destroys the locality a real dHash preserves and the corpus has
# no byte-identical texts, so at 64 bits the twin's result would be
# empty-by-construction (P[hamming<=3] ~ 2^-51); at 20 bits the
# deterministic background distribution itself yields ~1e2 pairs
# spanning hammings 0..3 — the band bucket-join AND the verify filter
# both do real work, hash-matched end to end.
PHASH_EXACT_BITS = 20
PHASH_EXACT_HAMMING_MAX = 3


def _md5_bits(h: Column, bits: int) -> Column:
    """BIGINT whose bit b is set iff hex digit b of the md5 hex string
    ``h`` is >= '8' (b < ``bits`` <= 63) — the Spark side of the
    '0'/'1' signature string ``_md5_band_ctes`` builds in SQL."""
    high = F.translate(F.substring(h, 1, bits), "0123456789abcdef", "0000000011111111")
    return F.conv(F.reverse(high), 2, 10).cast("long")


def _phash_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    signed = docs.select(
        "doc_id",
        _md5_bits(F.md5(F.encode(F.col("text"), "utf-8")), PHASH_EXACT_BITS).alias("sig"),
    )
    pairs = banded_hamming_pairs(
        signed, "doc_id", "sig", PHASH_EXACT_HAMMING_MAX, bits=PHASH_EXACT_BITS
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


_PHASH_SIG = " || ".join(
    f"CASE WHEN strpos('89abcdef', substr(h, {b + 1}, 1)) > 0 THEN '1' ELSE '0' END"
    for b in range(PHASH_EXACT_BITS)
)
_PHASH_HAMMING = " + ".join(
    f"CASE WHEN substr(a.sig, {p + 1}, 1) <> substr(b.sig, {p + 1}, 1) THEN 1 ELSE 0 END"
    for p in range(PHASH_EXACT_BITS)
)


def _md5_band_ctes(src: str, tag: str) -> str:
    """SQL twin of ``_md5_bits`` + the BIGINT banding: emits sig_{tag} /
    banded_{tag} / pairs_{tag} CTE text over a ``src`` CTE carrying
    (doc_id, h) — the ONE SQL-side definition of the sig/band/verify
    arithmetic."""
    width = PHASH_EXACT_BITS // (PHASH_EXACT_HAMMING_MAX + 1)
    blocks = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sig, {i} AS block, substr(sig, {i * width + 1}, {width}) "
        f"AS value FROM sig_{tag}"
        for i in range(PHASH_EXACT_HAMMING_MAX + 1)
    )
    return f"""sig_{tag} AS (
  SELECT doc_id, {_PHASH_SIG} AS sig FROM {src}
), banded_{tag} AS (
{blocks}
), pairs_{tag} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST({_PHASH_HAMMING} AS BIGINT) AS hamming
  FROM banded_{tag} a JOIN banded_{tag} b
    ON a.block = b.block AND a.value = b.value AND a.doc_id < b.doc_id
  WHERE {_PHASH_HAMMING} <= {PHASH_EXACT_HAMMING_MAX}
)"""


_PHASH_NEAR_DUPS_EXACT_SQL = f"""
WITH hashed AS (
  SELECT doc_id, md5(text) AS h FROM documents
), {_md5_band_ctes("hashed", "ph")}
SELECT id_a, id_b, hamming FROM pairs_ph
ORDER BY id_a, id_b
"""


# --- Q: blockmean_near_dups — multi-scale perceptual near-dup --------
# Second signature family of the perceptual tier (r8 VERDICT item 6):
# block-mean hashes (Yang et al. 2006) at two crop scales — full frame
# + 0.75 center crop — each fed through the SimHash pigeonhole banding,
# unioned to one row per pair (min hamming, scales matched).
# The crop scale catches border-edited dups (letterbox / watermark /
# frame-edge timestamps) whose full-frame hamming blows past the
# threshold — pinned by test_connectors' planted letterbox test.
# mapInPandas signature stage → rows-only; the banding/verify
# arithmetic is oracle-certified by phash_near_dups_exact above.

def _blockmean_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.multimodal import (
        attach_payload, blockmean_near_dups,
    )
    from databeats_spark.sources.tables import spread

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    pairs = blockmean_near_dups(attach_payload(docs), hamming_max=3)
    return pairs.orderBy("id_a", "id_b")


# --- Q: blockmean_near_dups_exact — oracle twin of the two-scale tier -
# The production multi-scale search (operators/multimodal.py::
# multi_scale_hamming_pairs — per-scale banded search, union,
# min(hamming), scales-matched count) run on the engine-shared md5
# signature substitute at two "crop" scales: scale 0 hashes the full
# text (the full frame), scale 1 hashes the CENTRAL 3/4 substring (the
# 0.75 center crop analog — same substring on both engines: n =
# greatest(1, length), span = greatest(1, 3n DIV 4), start = (n - span)
# DIV 2 + 1, all non-negative integer floor-div, exact through the
# double path since n < 2^50). The oracle bands each scale with
# _md5_band_ctes.

def _blockmean_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.multimodal import multi_scale_hamming_pairs

    docs = spread(load_tables(spark, sf_dir, ["documents"]).documents, spark)
    n = F.greatest(F.lit(1).cast("bigint"), F.length("text").cast("bigint"))
    span = F.greatest(F.lit(1).cast("bigint"), F.floor(n * 3 / 4).cast("bigint"))
    start = (F.floor((n - span) / 2).cast("bigint") + 1).cast("int")
    crop = F.substring(F.col("text"), start, span.cast("int"))
    scales = [
        docs.select(
            "doc_id", _md5_bits(F.md5(F.encode(t, "utf-8")), PHASH_EXACT_BITS).alias("sig")
        )
        for t in (F.col("text"), crop)
    ]
    pairs = multi_scale_hamming_pairs(
        scales, "doc_id", "sig", PHASH_EXACT_HAMMING_MAX, bits=PHASH_EXACT_BITS
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming"), "n_scales"
    ).orderBy("id_a", "id_b")


_BLOCKMEAN_NEAR_DUPS_EXACT_SQL = f"""
WITH dims AS (
  SELECT doc_id, text, greatest(1, length(text)) AS n,
         greatest(1, (3 * greatest(1, length(text))) // 4) AS span
  FROM documents
), h_full AS (
  SELECT doc_id, md5(text) AS h FROM documents
), h_crop AS (
  SELECT doc_id, md5(substr(text, ((n - span) // 2) + 1, span)) AS h FROM dims
), {_md5_band_ctes("h_full", "full")},
{_md5_band_ctes("h_crop", "crop")}
SELECT id_a, id_b, CAST(min(hamming) AS BIGINT) AS hamming,
       CAST(count(*) AS BIGINT) AS n_scales
FROM (SELECT * FROM pairs_full UNION ALL SELECT * FROM pairs_crop)
GROUP BY id_a, id_b
ORDER BY id_a, id_b
"""


def _bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token budget estimation per document: letter runs,
    digit runs, symbol runs (the pre-tokenization a byte-pair encoder
    merges from)."""
    from databeats_spark.functions.text import bpe_token_count

    t = load_tables(spark, sf_dir, ["documents"])
    c = F.col("text")
    return (
        t.documents.select(
            "doc_id",
            bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
            F.size(F.regexp_extract_all(c, F.lit("[a-zA-Z]+"), 0)).cast("long").alias("n_word_runs"),
            F.size(F.regexp_extract_all(c, F.lit("[0-9]+"), 0)).cast("long").alias("n_digit_runs"),
            F.size(F.regexp_extract_all(c, F.lit(r"[^a-zA-Z0-9\s]+"), 0)).cast("long").alias("n_symbol_runs"),
        )
        .orderBy("doc_id")
    )


_BPE_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_word_runs,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_symbol_runs
FROM documents
ORDER BY doc_id
"""


SAMPLE_HEX_THRESHOLD = "1999"  # first-4-hex-chars < this ≈ 10% of keyspace


def _deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: keep rows whose content-hash
    prefix falls under a hex threshold. Unlike ``df.sample`` (seeded
    per-partition RNG — layout-dependent), the hash rule selects the
    SAME documents on any engine, any partitioning, any run — the
    property training-data pipelines need for auditable subsets."""
    t = load_tables(spark, sf_dir, ["documents"])
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        t.documents.filter(bucket < SAMPLE_HEX_THRESHOLD)
        .select("doc_id", bucket.alias("hash_bucket"), "lang", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


_DETERMINISTIC_SAMPLE_SQL = f"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hash_bucket,
       lang,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SAMPLE_HEX_THRESHOLD}'
ORDER BY doc_id
"""


# --- Q: stratified_sample — per-stratum hash-threshold sampling ----------
# sampleBy() semantics (different keep-fraction per stratum) with the
# same auditability as deterministic_sample: the per-lang threshold is
# data, not RNG state. Downsampling the over-represented language is
# THE corpus-balancing move in training-data pipelines.

STRATUM_THRESHOLDS = {"en": "4000", "zh": "c000"}  # ≈25% / ≈75%
DEFAULT_STRATUM_THRESHOLD = "8000"  # ≈50% for every other language


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    thr = F.lit(DEFAULT_STRATUM_THRESHOLD)
    for lang, hex_thr in sorted(STRATUM_THRESHOLDS.items()):
        thr = F.when(F.col("lang") == lang, F.lit(hex_thr)).otherwise(thr)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        t.documents.filter(bucket < thr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


_STRATIFIED_SAMPLE_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_sampled,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN lang = 'en' THEN '{STRATUM_THRESHOLDS["en"]}'
           WHEN lang = 'zh' THEN '{STRATUM_THRESHOLDS["zh"]}'
           ELSE '{DEFAULT_STRATUM_THRESHOLD}' END
GROUP BY lang
ORDER BY lang
"""


# --- Q: repetition_stats — Gopher-style repetition quality signals --------
# Duplicate-2-gram fraction, distinct-token ratio, and top-token
# frequency: the degenerate-text detectors a pretraining filter stacks
# on top of quality_score. All pure array expressions per doc.


def _repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = F.split(F.trim("text"), r"\s+")
    return (
        t.documents.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.round(F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)), 6).alias("distinct_token_ratio"),
            F.round(dup_ngram_fraction("text", n=2), 6).alias("dup_2gram_frac"),
            F.round(top_token_fraction("text"), 6).alias("top_token_frac"),
        )
        .orderBy("doc_id")
    )


_REPETITION_STATS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id,
         list_filter(list_zip(t, t[2:]), u -> u[2] IS NOT NULL) AS g2
  FROM toks
), tok_counts AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY doc_id, tok
), top_tok AS (
  SELECT doc_id, max(c) AS top_c FROM tok_counts GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       round(len(list_distinct(t)) * 1.0 / greatest(len(t), 1), 6) AS distinct_token_ratio,
       round(CASE WHEN len(g2) > 0
                  THEN (len(g2) - len(list_distinct(list_transform(g2, u -> u[1] || ' ' || u[2])))) * 1.0 / len(g2)
                  ELSE 0.0 END, 6) AS dup_2gram_frac,
       round(top_c * 1.0 / greatest(len(t), 1), 6) AS top_token_frac
FROM toks
JOIN grams ON grams.doc_id = toks.doc_id
JOIN top_tok ON top_tok.doc_id = toks.doc_id
ORDER BY toks.doc_id
"""


# --- Q: pii_scrub — typed-placeholder redaction with audit counts --------
# The corpus has no organic PII, so both engines append an identical
# deterministic contact tail (doc_id-derived email, URL, phone) and
# must then agree on match counts AND the md5 of the scrubbed text —
# i.e. the regex semantics match byte-for-byte across Java and RE2.

PII_DOC_LIMIT = 200


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.filter(F.col("doc_id") < PII_DOC_LIMIT)
    sid = F.col("doc_id").cast("string")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid,
        F.lit("@example.com via http://ex.com/p/"), sid,
        F.lit(" or +1 (555) 010-"), sid,
    )
    docs = docs.select("doc_id", synth.alias("__synth"))
    counts = pii_counts("__synth")
    return docs.select(
        "doc_id",
        counts["email"].cast("long").alias("n_emails"),
        counts["url"].cast("long").alias("n_urls"),
        counts["phone"].cast("long").alias("n_phones"),
        F.md5(scrub_pii("__synth")).alias("scrub_md5"),
    ).orderBy("doc_id")


def _pii_scrub_sql() -> str:
    url_p, email_p, phone_p = (p for _, p, _ in PII_PATTERNS)
    return f"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com via http://ex.com/p/' || doc_id
              || ' or +1 (555) 010-' || doc_id AS s
  FROM documents WHERE doc_id < {PII_DOC_LIMIT}
)
SELECT doc_id,
       CAST(len(regexp_extract_all(s, '{email_p}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(s, '{url_p}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(s, '{phone_p}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(s,
           '{url_p}', '<URL>', 'g'),
           '{email_p}', '<EMAIL>', 'g'),
           '{phone_p}', '<PHONE>', 'g')) AS scrub_md5
FROM synth
ORDER BY doc_id
"""


# --- Q: benchmark_decontam — eval-set n-gram overlap decontamination -----
# The contamination check every pretraining pipeline runs before
# shipping a corpus: does a training document share n-grams with the
# held-out benchmark? Eval set = deterministic 10% split (doc_id % 10),
# unit = distinct 4-gram shingles. Spark plan: the eval shingle set is
# benchmark-sized (small even at 100 TB corpus scale), so it BROADCASTS
# to every executor and the corpus side streams through a broadcast
# hash join — no shuffle of the exploded corpus shingles at all; the
# per-doc overlap count then partial-aggregates map-side.
# Flag threshold is integer math (n_overlap * 20 >= n_shingles, i.e.
# frac >= 0.05) so both engines compare exactly.

DECONTAM_N = 4
DECONTAM_EVAL_MOD = 10


def _benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.select("doc_id", word_shingles("text", n=DECONTAM_N).alias("sh"))
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    eval_sh = docs.filter(is_eval).select(F.explode("sh").alias("shingle")).distinct()
    corpus = docs.filter(~is_eval).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias("overlap_frac"),
            (F.col("n_overlap") * 20 >= F.col("n_shingles")).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_DECONTAM_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {DECONTAM_N - 1}, 0) + 1),
                        i -> array_to_string(toks[i:i+{DECONTAM_N - 1}], ' '))) AS sh
  FROM t
), eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
), corpus AS (
  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS shingle
  FROM s WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0
)
SELECT c.doc_id,
       CAST(c.n_shingles AS BIGINT) AS n_shingles,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(count(*) * 1.0 / c.n_shingles, 6) AS overlap_frac,
       count(*) * 20 >= c.n_shingles AS contaminated
FROM corpus c JOIN eval_sh e USING (shingle)
GROUP BY c.doc_id, c.n_shingles
ORDER BY c.doc_id
"""


# --- Q: shared_shingle_stats — cross-document boilerplate fraction -------
# CCNet-style duplicated-content signal: for each document, what
# fraction of its distinct 5-gram shingles also appear in at least one
# OTHER document? High fraction = boilerplate / templated content.
# Spark plan: one explode → self document-frequency aggregation on the
# shingle key → rejoin → per-doc count. Both aggregations are hash
# aggregates with map-side partial combine; the join is a plain shuffle
# equi-join on the shingle key (the DF table scales with corpus size,
# so no broadcast — this IS the scale path). Integer counts only;
# the single ratio division rounds to 6 on both engines.

SHARED_SHINGLE_N = 5


def _shared_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # 5-gram shingling is compute-bound: spread the few-split scan
    docs = spread(t.documents, spark).select(
        "doc_id", word_shingles("text", n=SHARED_SHINGLE_N).alias("sh")
    )
    ex = docs.select("doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("shingle"))
    df_tbl = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        ex.join(df_tbl, "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long").alias("n_shared"))
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            "n_shared",
            F.round(F.col("n_shared") / F.greatest(F.col("n_shingles"), F.lit(1)), 6).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


_SHARED_SHINGLE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - {SHARED_SHINGLE_N - 1}, 0) + 1),
                        i -> array_to_string(toks[i:i+{SHARED_SHINGLE_N - 1}], ' '))) AS sh
  FROM t
), ex AS (
  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS shingle FROM s
), df AS (
  SELECT shingle, count(*) AS df FROM ex GROUP BY 1
)
SELECT ex.doc_id,
       CAST(ex.n_shingles AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / greatest(ex.n_shingles, 1), 6) AS shared_frac
FROM ex JOIN df USING (shingle)
GROUP BY ex.doc_id, ex.n_shingles
ORDER BY ex.doc_id
"""


# --- Q: token_budget_pack — greedy corpus packing to a token budget ------
# "Fill a training mix with N tokens": order the corpus by a
# deterministic shuffle key (Knuth multiplicative hash of doc_id — an
# unbiased reproducible permutation; any ranking, e.g. quality desc,
# plugs into the same operator), take documents while the running
# token total fits the budget. The running total uses
# operators/scale.py::partitioned_running_total — the two-phase
# distributed prefix sum — NOT a global-order window, which would
# funnel 100 TB through one task.

TOKEN_BUDGET = 15_000
_KNUTH = 2_654_435_761


def _token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(65536)).alias("shuffle_key"),
    )
    packed = partitioned_running_total(
        docs,
        order_by=[F.col("shuffle_key"), F.col("doc_id")],
        sums={"cum_tokens": "n_tokens"},
    )
    return (
        packed.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select(
            "doc_id",
            "n_tokens",
            F.col("shuffle_key").cast("long").alias("shuffle_key"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


_TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         (doc_id * {_KNUTH}) % 65536 AS shuffle_key
  FROM documents
), r AS (
  SELECT doc_id, n_tokens, shuffle_key,
         sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, CAST(shuffle_key AS BIGINT) AS shuffle_key,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= {TOKEN_BUDGET}
ORDER BY doc_id
"""


# --- Q: mix_rebalance — equalize per-source document counts --------------
# Training-mix construction: hash-downsample every source to the
# smallest source's count so the mix is (approximately) uniform across
# sources, reproducibly. Two-pass: per-source counts (tiny, broadcast
# back), then a pure-integer keep rule
#     bucket * n_docs < 65536 * min_docs
# (i.e. keep-fraction = min_docs/n_docs) with bucket = Knuth hash of
# doc_id — exact integer comparisons on both engines, no float
# thresholds. Map-side filter; one final per-source aggregate.


def _mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    from databeats_spark.operators.scale import attach_global_scalar

    docs = t.documents.select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # min scalar derives from the per-source counts; materialize them
    # once (AQE does not dedupe the shared exchange under broadcast)
    sized = attach_global_scalar(counts, F.min("n_docs").alias("min_docs"))
    bucket = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(65536))
    kept = (
        docs.join(F.broadcast(sized), "source")
        .filter(bucket * F.col("n_docs") < F.lit(65536) * F.col("min_docs"))
    )
    return (
        kept.groupBy("source", "n_docs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("doc_id").alias("first_kept"),
            F.max("doc_id").alias("last_kept"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("kept_frac"),
            "first_kept",
            "last_kept",
        )
        .orderBy("source")
    )


_MIX_REBALANCE_SQL = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), m AS (
  SELECT min(n_docs) AS min_docs FROM counts
), kept AS (
  SELECT d.doc_id, d.source, c.n_docs
  FROM documents d JOIN counts c USING (source) CROSS JOIN m
  WHERE ((d.doc_id * {_KNUTH}) % 65536) * c.n_docs < 65536 * m.min_docs
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_kept,
       round(count(*) * 1.0 / n_docs, 6) AS kept_frac,
       min(doc_id) AS first_kept,
       max(doc_id) AS last_kept
FROM kept
GROUP BY source, n_docs
ORDER BY source
"""


# --- Q: quality_decile_mix — per-source quality-score histogram -------
# The distribution the mixing policy reads AFTER scoring: docs per
# (source, score decile). Decile = floor(score·10) clamped to 9 — a
# value bucket, not a rank, so there is no global sort; min/max are
# order-independent over engine-identical doubles (the score is the
# SAME round(…,6) arithmetic text_stats hash-matches; no float SUMS
# enter the result). One hash aggregate over one scan.

def _quality_decile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    scored = t.documents.select("source", quality_score("text").alias("q"))
    return (
        scored.groupBy(
            "source",
            F.least(F.floor(F.col("q") * 10), F.lit(9)).cast("bigint").alias("decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
        )
        .orderBy("source", "decile")
    )


def _quality_decile_mix_sql() -> str:
    # identical score arithmetic to _text_stats_sql (the hash-matched
    # quality twin), aggregated into value-bucket deciles
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    punct = r"[.,;:!?'\"()\[\]{}<>/\\|@#$%^&*_+=~`-]"
    punct_sql = punct.replace("'", "''")
    return f"""
WITH t AS (
  SELECT source, text,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT source, text, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) * 1.0 / greatest(len(toks), 1) AS mtl,
         CAST(len(list_filter(toks, x -> x IN ({en}))) AS BIGINT) AS en_stopwords
  FROM t
), q AS (
  SELECT source,
         round((
           (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.5 END)
           + (1.0 - least((n_chars - length(regexp_replace(text, '{punct_sql}', '', 'g'))) * 1.0 / greatest(n_chars, 1) * 5, 1.0))
           + least(en_stopwords * 1.0 / greatest(n_tokens, 1) * 10, 1.0)
         ) / 3, 6) AS q
  FROM m
)
SELECT source,
       CAST(least(floor(q * 10), 9) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(q) AS min_q,
       max(q) AS max_q
FROM q
GROUP BY source, decile
ORDER BY source, decile
"""


# --- Q: quantile_normalized_lengths — cross-source score alignment ----
# Quantile normalization (the expression-array classic, here over doc
# lengths): every document's within-source rank is mapped to the
# POOLED distribution's value at the equivalent rank, so every
# source's length profile becomes comparable before mixing. Parity is
# all-integer: within-source rank r and source size n_s are
# key-partitioned window BIGINTs, the pooled index is a distributed
# prefix count (partitioned_running_total — no global window), the
# target index k = 1 + ((r−1)(N−1)) DIV (n_s−1) is integer division
# on both engines (singleton sources map to the pooled median), and
# the lookup is one equi-join on k = idx. Nothing is floating point
# anywhere.

def _quantile_normalized_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from databeats_spark.operators.scale import partitioned_running_total

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t.documents.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint").alias("ns"),
    )
    pooled = partitioned_running_total(
        docs.withColumn("one", F.lit(1).cast("bigint")),
        [F.col("n_chars"), F.col("doc_id")],
        {"idx": "one"},
    ).select(F.col("idx").cast("bigint").alias("idx"), F.col("n_chars").alias("norm_chars"))
    n_total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("N"))
    k = F.when(
        F.col("ns") == 1, F.expr("(N + 1) DIV 2")
    ).otherwise(F.expr("1 + ((r - 1) * (N - 1)) DIV (ns - 1)"))
    keyed = ranked.crossJoin(F.broadcast(n_total)).withColumn("k", k)
    return (
        keyed.join(pooled, keyed["k"] == pooled["idx"])
        .select("doc_id", "source", "n_chars", F.col("r").alias("src_rank"), "norm_chars")
        .orderBy("doc_id")
    )


_QUANTILE_NORMALIZED_LENGTHS_SQL = """
WITH ranked AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
  FROM documents
), pooled AS (
  SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS idx,
         CAST(n_chars AS BIGINT) AS norm_chars
  FROM documents
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS N FROM documents
), keyed AS (
  SELECT ranked.*,
         CASE WHEN ns = 1 THEN (N + 1) // 2
              ELSE 1 + ((r - 1) * (N - 1)) // (ns - 1) END AS k
  FROM ranked CROSS JOIN nn
)
SELECT keyed.doc_id, keyed.source, keyed.n_chars, keyed.r AS src_rank, p.norm_chars
FROM keyed JOIN pooled p ON p.idx = keyed.k
ORDER BY keyed.doc_id
"""


SPECS = [
    QuerySpec(
        "quantile_normalized_lengths",
        "quantile normalization across sources: all-integer rank mapping through the pooled distribution (prefix-count index, one equi-join)",
        _quantile_normalized_lengths,
        _QUANTILE_NORMALIZED_LENGTHS_SQL,
        tags=("window", "join", "scale", "text"),
    ),
    QuerySpec("quality_decile_mix", "per-source quality-score decile histogram (value buckets, no sort)", _quality_decile_mix, _quality_decile_mix_sql(), tags=("text", "agg", "audit")),
    QuerySpec("deterministic_sample", "hash-threshold reproducible sampling (auditable subsets)", _deterministic_sample, _DETERMINISTIC_SAMPLE_SQL, tags=("sampling",)),
    QuerySpec("stratified_sample", "per-stratum hash-threshold sampling (corpus balancing)", _stratified_sample, _STRATIFIED_SAMPLE_SQL, tags=("sampling",)),
    QuerySpec("dedup_exact_docs", "exact content dedup via md5 fingerprint hash-agg", _dedup_exact_docs, _DEDUP_EXACT_SQL, bench=True, tags=("dedup", "text")),
    QuerySpec("doc_fingerprints", "document fingerprinting (full + prefix)", _doc_fingerprints, _DOC_FINGERPRINTS_SQL, tags=("text",)),
    QuerySpec("text_stats", "token counting + quality scoring", _text_stats, _text_stats_sql(), bench=True, tags=("text",)),
    QuerySpec("lang_id", "marker-token language ID heuristic", _lang_id, _lang_id_sql(), tags=("text",)),
    QuerySpec("lang_id_calibration", "reliability diagram + per-bin calibration gap of the lang-id confidence (rational BIGINT confidence, 10 fixed bins)", _lang_id_calibration, _lang_id_calibration_sql, tags=("text", "eval", "audit")),
    QuerySpec("brier_decomposition", "Murphy decomposition of the lang-id Brier score: reliability - resolution + uncertainty over the calibration bins", _brier_decomposition, _brier_decomposition_sql, tags=("text", "eval", "stats")),
    QuerySpec("isotonic_calibration", "closed-form isotonic (PAVA via the minimax identity) calibration map over the lang-id confidence bins", _isotonic_calibration, _isotonic_calibration_sql, tags=("text", "eval", "stats")),
    QuerySpec("lang_label_noise", "per-language label-noise rate: stored lang vs the heuristic guess", _lang_label_noise, _lang_label_noise_sql, tags=("text", "quality")),
    QuerySpec("lang_id_kappa", "Cohen's kappa per source: chance-corrected lang-label agreement as exact integer polynomials", _lang_id_kappa, _lang_id_kappa_sql, tags=("text", "quality", "audit")),
    QuerySpec("near_dup_pairs", "exact 3-gram-shingle Jaccard near-dup pairs", _near_dup_pairs, _NEAR_DUP_PAIRS_SQL, bench=True, tags=("dedup", "text")),
    QuerySpec("dedup_components", "connected components of the near-dup graph (dedup clusters)", _dedup_components, _DEDUP_COMPONENTS_SQL, tags=("dedup", "graph")),
    QuerySpec("posexplode_tokens", "positional explode: (token, position) pairs", _posexplode_tokens, _POSEXPLODE_TOKENS_SQL, tags=("text", "reshape")),
    QuerySpec("multimodal_bytes", "binary payload columns: length + sha256", _multimodal_bytes, _MULTIMODAL_BYTES_SQL, tags=("multimodal",)),
    QuerySpec("phash_near_dups", "perceptual dHash near-dup over media payloads (rows-only; recall pytest-pinned, banding certified by the exact twin)", _phash_near_dups, None, tags=("multimodal", "dedup", "approx")),
    QuerySpec("phash_near_dups_exact", "oracle twin: md5-bit signatures through the production pigeonhole band + Hamming verify", _phash_near_dups_exact, _PHASH_NEAR_DUPS_EXACT_SQL, tags=("multimodal", "dedup")),
    QuerySpec("blockmean_near_dups", "multi-scale block-mean perceptual near-dup (full frame + center crop, border-edit robust; rows-only, banding certified by phash_near_dups_exact)", _blockmean_near_dups, None, tags=("multimodal", "dedup", "approx")),
    QuerySpec("blockmean_near_dups_exact", "oracle twin of the two-scale tier: md5-bit signatures at full-text + central-3/4 'crop' scales through the shared banding, union to min-hamming + n_scales", _blockmean_near_dups_exact, _BLOCKMEAN_NEAR_DUPS_EXACT_SQL, tags=("multimodal", "dedup")),
    QuerySpec("tf_idf_terms", "TF-IDF top terms per document", _tf_idf_terms, _TF_IDF_SQL, tags=("text",)),
    QuerySpec("bpe_token_stats", "BPE-ish regex token counting (LLM token budgets)", _bpe_token_stats, _BPE_TOKEN_STATS_SQL, tags=("text",)),
    QuerySpec("repetition_stats", "duplicate-ngram / top-token repetition quality signals", _repetition_stats, _REPETITION_STATS_SQL, tags=("text",)),
    QuerySpec("pii_scrub", "typed-placeholder PII redaction with audit counts", _pii_scrub, _pii_scrub_sql(), tags=("text",)),
    QuerySpec("benchmark_decontam", "eval-set 4-gram overlap decontamination (broadcast eval shingles)", _benchmark_decontam, _DECONTAM_SQL, tags=("text", "dedup")),
    QuerySpec("shared_shingle_stats", "cross-document shared-shingle boilerplate fraction", _shared_shingle_stats, _SHARED_SHINGLE_SQL, tags=("text", "dedup")),
    QuerySpec("token_budget_pack", "greedy token-budget packing via distributed prefix sum", _token_budget_pack, _TOKEN_BUDGET_SQL, tags=("text", "sampling", "scale")),
    QuerySpec("mix_rebalance", "per-source hash-downsampling to the smallest source (mix equalization)", _mix_rebalance, _MIX_REBALANCE_SQL, tags=("sampling",)),
]
