"""Text-analysis operators over `documents` (training-data pipeline).

Language-ID, quality scoring, token counting, fingerprinting — the text
prep stages a 100 TB corpus pipeline runs before training.  All pure
built-in expressions (codegen'd, embarrassingly parallel per row: no
shuffle at all — the plan is scan → project)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot
from mqtt2sql_spark.fixtures import load_table
from mqtt2sql_spark.functions.text import (
    BPE_RE,
    CJK_RE_DUCK,
    CJK_RE_SPARK,
    LANG_MARKERS,
    STOPWORDS,
    bpe_pieces,
    count_in_list,
    duck_normalized,
    duck_tokens,
    normalized_text,
    tokens,
)
from mqtt2sql_spark.operators.partitioning import fan_out
from mqtt2sql_spark.plans.base import register

# DuckDB string literals are escape-free — the regex goes in verbatim
_BPE_RE_SQL = BPE_RE

# --- token counting --------------------------------------------------------


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({duck_tokens()}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                    '{_BPE_RE_SQL}')) AS BIGINT) AS n_pieces,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
    doc="Token counting: whitespace/word tokens + BPE-ish piece count "
    "(letters / digit runs / single punctuation) — the tokenizer-cost "
    "estimator of a data pipeline.",
    bench=True,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.size(bpe_pieces("text")).cast("long").alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


# --- quality scoring -------------------------------------------------------


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(toks) > 0
                      THEN CAST(length(text) AS DOUBLE) / len(toks)
                      ELSE 0 END, 4) AS chars_per_token,
           round(CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round(CAST(len(list_filter(toks,
                      x -> x IN ({", ".join(repr(w) for w in STOPWORDS)})))
                      AS DOUBLE) / greatest(len(toks), 1), 4) AS stopword_ratio,
           round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS digit_ratio
    FROM (SELECT doc_id, text, {duck_tokens()} AS toks FROM documents)
    """,
    doc="Quality scoring: length, token stats, punctuation / stopword / "
    "digit ratios — the heuristic filters (C4/Gopher-style, public "
    "recipes) used to drop low-quality web text before training.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.round(
            F.when(n_toks > 0, n_chars.cast("double") / n_toks).otherwise(0.0), 4
        ).alias("chars_per_token"),
        F.round(
            F.size(F.regexp_extract_all("text", F.lit("[.!?,;:]"), 0)).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            4,
        ).alias("punct_ratio"),
        F.round(
            count_in_list(toks, STOPWORDS).cast("double")
            / F.greatest(n_toks, F.lit(1)),
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0)).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            4,
        ).alias("digit_ratio"),
    )


# --- language identification ----------------------------------------------


def _duck_marker_count(markers: tuple[str, ...]) -> str:
    return (
        f"len(list_filter(toks, x -> x IN "
        f"({', '.join(repr(w) for w in markers)})))"
    )


@register(
    "lang_id_ngram",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                WHEN es >= en AND es >= fr THEN 'es'
                WHEN fr >= en THEN 'fr'
                ELSE 'en' END AS lang_pred,
           CAST(en AS BIGINT) AS score_en, CAST(de AS BIGINT) AS score_de,
           CAST(es AS BIGINT) AS score_es, CAST(fr AS BIGINT) AS score_fr,
           CAST(cjk AS BIGINT) AS score_cjk
    FROM (
        SELECT doc_id, lang,
               {_duck_marker_count(LANG_MARKERS["en"])} AS en,
               {_duck_marker_count(LANG_MARKERS["de"])} AS de,
               {_duck_marker_count(LANG_MARKERS["es"])} AS es,
               {_duck_marker_count(LANG_MARKERS["fr"])} AS fr,
               len(regexp_extract_all(text, '{CJK_RE_DUCK}')) AS cjk
        FROM (SELECT doc_id, lang, text, {duck_tokens()} AS toks
              FROM documents)
    )
    """,
    doc="Language ID: marker-word counts per language + CJK char-class "
    "presence, argmax with a fixed tie-order (zh > de > es > fr > en). "
    "Deterministic heuristic — accuracy is a data question, the operator "
    "contract is the deterministic scoring plan.",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        count_in_list(toks, LANG_MARKERS["en"]).alias("en"),
        count_in_list(toks, LANG_MARKERS["de"]).alias("de"),
        count_in_list(toks, LANG_MARKERS["es"]).alias("es"),
        count_in_list(toks, LANG_MARKERS["fr"]).alias("fr"),
        F.size(F.regexp_extract_all("text", F.lit(CJK_RE_SPARK), 0)).alias("cjk"),
    )
    pred = (
        F.when(F.col("cjk") > 0, F.lit("zh"))
        .when(
            (F.col("de") >= F.col("en"))
            & (F.col("de") >= F.col("es"))
            & (F.col("de") >= F.col("fr")),
            F.lit("de"),
        )
        .when((F.col("es") >= F.col("en")) & (F.col("es") >= F.col("fr")), F.lit("es"))
        .when(F.col("fr") >= F.col("en"), F.lit("fr"))
        .otherwise(F.lit("en"))
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        F.col("en").cast("long").alias("score_en"),
        F.col("de").cast("long").alias("score_de"),
        F.col("es").cast("long").alias("score_es"),
        F.col("fr").cast("long").alias("score_fr"),
        F.col("cjk").cast("long").alias("score_cjk"),
    )


# --- document fingerprinting ----------------------------------------------


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({duck_normalized()}) AS fingerprint,
           upper(substring(md5({duck_normalized()}), 1, 8)) AS fp_prefix,
           md5(array_to_string(list_sort({duck_tokens()}), ' ')) AS bow_fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized text "
    "(exact-dup key) plus an order-insensitive bag-of-words fingerprint "
    "(sorted-token hash) that survives word reordering.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.upper(F.substring(F.md5(norm), 1, 8)).alias("fp_prefix"),
        F.md5(F.concat_ws(" ", F.sort_array(tokens("text")))).alias(
            "bow_fingerprint"
        ),
    )


# --- quality gate -----------------------------------------------------------


@register(
    "quality_filter_pass",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               len(toks) AS n_toks,
               CAST(len(list_filter(toks,
                    x -> x IN ({", ".join(repr(w) for w in STOPWORDS)})))
                    AS DOUBLE) / greatest(len(toks), 1) AS sw_ratio,
               CAST(length(text) AS DOUBLE) / greatest(len(toks), 1) AS cpt
        FROM (SELECT doc_id, lang, text, {duck_tokens()} AS toks
              FROM documents)
    )
    WHERE n_toks >= 20 AND cpt BETWEEN 3 AND 12 AND sw_ratio >= 0.01
    """,
    doc="Quality gate (C4/Gopher-style, public recipes): keep documents "
    "with ≥20 tokens, plausible chars-per-token, and nonzero stopword "
    "density — the composed filter form of text_quality, pushdown-safe.",
)
def quality_filter_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    cpt = F.length("text").cast("double") / F.greatest(n_toks, F.lit(1))
    return (
        docs.select("doc_id", "lang", n_toks.alias("n_toks"),
                    sw_ratio.alias("sw_ratio"), cpt.alias("cpt"))
        .filter(
            (F.col("n_toks") >= 20)
            & (F.col("cpt") >= 3) & (F.col("cpt") <= 12)
            & (F.col("sw_ratio") >= 0.01)
        )
        .select("doc_id", "lang")
    )


# --- deterministic corpus splitting ------------------------------------------


@register(
    "train_test_split",
    oracle="""
    SELECT split, lang, count(*) AS n, min(doc_id) AS min_doc
    FROM (
        SELECT doc_id, lang,
               CASE WHEN instr('0123456789abcdef',
                               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                         - 1 < 13
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents
    ) GROUP BY split, lang
    """,
    doc="Deterministic train/eval split: md5 of the stable key → first "
    "nibble < 13 ⇒ train (~81%).  Hash-based splits are reproducible "
    "across runs/engines and stable under re-partitioning — the property "
    "random() sampling lacks; stratification checked per lang.",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nibble = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    )
    split = F.when(nibble < 13, F.lit("train")).otherwise(F.lit("eval"))
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
    )


# --- TF-IDF top terms ------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=f"""
    , tok AS (
        SELECT doc_id, unnest({duck_tokens()}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, tok, tfidf, rank FROM (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)), 6)
                   AS tfidf,
               CAST(row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln((1.0 + n.n_docs)
                                             / (1.0 + df.df)), 6) DESC,
                            tf.tok
               ) AS BIGINT) AS rank
        FROM tf JOIN df USING (tok) CROSS JOIN n
    ) WHERE rank <= 3
    """,
    doc="TF-IDF top-3 terms per document: long-format tokens → "
    "(doc, term) partial-agg counts, document frequency from the tf "
    "relation itself (no second corpus scan), smoothed idf "
    "ln((1+N)/(1+df)), per-doc top-k window with total-order "
    "tie-break.  Scale: both aggs are map-side-combinable; df (one row "
    "per distinct term) broadcasts to the tf side, so only (doc, term) "
    "pairs ever shuffle.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df")))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tfidf", "rank")
    )


# --- Gopher-style repetition filter ----------------------------------------

# Gopher/MassiveText repetition thresholds (Rae et al. 2021, table A1
# shape): docs whose most frequent word 2-gram covers ≥20% of bigrams, or
# whose duplicate 5-gram fraction is ≥30%, are boilerplate/spam-like.
# Exposed as exact integer fixed-point (1e-4 units) for cross-engine
# hash parity — positive integer `div` is identical in Spark and DuckDB.
TOP2_MAX_FP = 2000  # 0.20
DUP5_MAX_FP = 3000  # 0.30


@register(
    "repetition_filter",
    oracle=f"""
    , toks AS (SELECT doc_id, {duck_tokens()} AS t FROM documents),
    ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
    bi AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
        FROM (SELECT doc_id, t,
                     unnest(range(1, greatest(len(t), 1))) AS i
              FROM toks)
    ),
    bicnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
    bagg AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS maxc,
               CAST(sum(c) AS BIGINT) AS n2
        FROM bicnt GROUP BY doc_id
    ),
    five AS (
        SELECT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    || ' ' || t[i+4] AS g
        FROM (SELECT doc_id, t,
                     unnest(range(1, greatest(len(t) - 3, 1))) AS i
              FROM toks)
    ),
    fagg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n5,
               CAST(count(DISTINCT g) AS BIGINT) AS d5
        FROM five GROUP BY doc_id
    )
    SELECT n.doc_id, n.n_tokens,
           CAST(coalesce((20000 * b.maxc) // greatest(b.n2, 1), 0)
                AS BIGINT) AS top2_frac_fp,
           CAST(coalesce((10000 * (f.n5 - f.d5)) // greatest(f.n5, 1), 0)
                AS BIGINT) AS dup5_frac_fp,
           CAST(coalesce((20000 * b.maxc) // greatest(b.n2, 1), 0)
                    < {TOP2_MAX_FP}
                AND coalesce((10000 * (f.n5 - f.d5)) // greatest(f.n5, 1), 0)
                    < {DUP5_MAX_FP} AS INTEGER) AS pass_repetition
    FROM ntok n
    LEFT JOIN bagg b USING (doc_id)
    LEFT JOIN fagg f USING (doc_id)
    """,
    doc="Gopher-style repetition signals per document (Rae et al. 2021 "
    "MassiveText filters): most-frequent-word-2-gram coverage and "
    "duplicate-5-gram fraction, with the pass flag at the published "
    "0.20/0.30 shape.  Spark: one posexplode + lead window builds both "
    "n-gram streams in a single pass, then two map-side-combinable hash "
    "aggregates keyed by doc — shuffles (doc, gram) counts, never text. "
    "Fractions are exact integer fixed-point (positive `div`), so the "
    "compared surface has no float.",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    # n_tokens comes from size(tokens), NOT the exploded stream: posexplode
    # drops docs whose text tokenizes to zero tokens, and the oracle keeps
    # them (len(t)=0, LEFT JOIN) — deriving the count pre-explode keeps a
    # punctuation-only document in the output with n_tokens=0.
    ntok = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    g = pos.select(
        "doc_id",
        "tok",
        F.lead("tok", 1).over(w).alias("l1"),
        F.lead("tok", 2).over(w).alias("l2"),
        F.lead("tok", 3).over(w).alias("l3"),
        F.lead("tok", 4).over(w).alias("l4"),
    )
    bi = g.filter(F.col("l1").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "l1").alias("g2")
    )
    bagg = (
        bi.groupBy("doc_id", "g2")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("maxc"), F.sum("c").alias("n2"))
    )
    five = g.filter(F.col("l4").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "l1", "l2", "l3", "l4").alias("g5")
    )
    fagg = five.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n5"),
        F.countDistinct("g5").alias("d5"),
    )
    out = (
        ntok.join(bagg, "doc_id", "left")
        .join(fagg, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "CAST(coalesce((20000 * maxc) div greatest(n2, 1), 0) "
            "AS BIGINT) AS top2_frac_fp",
            "CAST(coalesce((10000 * (n5 - d5)) div greatest(n5, 1), 0) "
            "AS BIGINT) AS dup5_frac_fp",
        )
    )
    return out.withColumn(
        "pass_repetition",
        (
            (F.col("top2_frac_fp") < TOP2_MAX_FP)
            & (F.col("dup5_frac_fp") < DUP5_MAX_FP)
        ).cast("int"),
    )


# --- deterministic stratified sampling -------------------------------------

STRATUM_CAP = 50  # max docs kept per (lang, source) stratum


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source, rk FROM (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rk
        FROM documents
    ) WHERE rk <= {STRATUM_CAP}
    """,
    doc="Deterministic stratified downsampling: keep at most "
    f"{STRATUM_CAP} documents per (lang, source) stratum, chosen by "
    "md5(doc_id) order — the training-data mixture-rebalancing primitive "
    "(fixed per-domain caps), reproducible across runs/engines because "
    "the 'random' order is a content hash, not an RNG.  Scale: shuffles "
    "only (doc_id, lang, source, hash) by stratum key; at 100 TB a "
    "hash-range pre-filter (keep md5 < threshold sized to ~3× the cap) "
    "bounds each stratum's ranked set before the window runs.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= STRATUM_CAP)
    )


# --- corpus mixture statistics ---------------------------------------------


@register(
    "domain_mix_stats",
    oracle="""
    , agg AS (
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT count(*) AS total_docs FROM documents)
    SELECT source, lang, n_docs, sum_chars,
           CAST((1000000 * n_docs) // total_docs AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot
    """,
    doc="Training-mixture composition: document count, char volume and "
    "corpus share (exact ppm fixed-point) per (source, lang) — the "
    "sampling-weight input of a data-mixing stage.  One partial-agg "
    "shuffle on the composite key; the grand total is a broadcast "
    "single-row join, not a global window.",
)
def domain_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    return agg.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "lang",
        "n_docs",
        "sum_chars",
        "CAST((1000000 * n_docs) div total_docs AS BIGINT) AS share_ppm",
    )


# --- language-ID evaluation (confusion matrix) -----------------------------


@register(
    "langid_confusion",
    oracle=f"""
    , pred AS (
        SELECT lang,
               CASE WHEN cjk > 0 THEN 'zh'
                    WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                    WHEN es >= en AND es >= fr THEN 'es'
                    WHEN fr >= en THEN 'fr'
                    ELSE 'en' END AS lang_pred
        FROM (
            SELECT lang,
                   {_duck_marker_count(LANG_MARKERS["en"])} AS en,
                   {_duck_marker_count(LANG_MARKERS["de"])} AS de,
                   {_duck_marker_count(LANG_MARKERS["es"])} AS es,
                   {_duck_marker_count(LANG_MARKERS["fr"])} AS fr,
                   len(regexp_extract_all(text, '{CJK_RE_DUCK}')) AS cjk
            FROM (SELECT lang, text, {duck_tokens()} AS toks FROM documents)
        )
    )
    SELECT lang, lang_pred, count(*) AS n,
           CAST(lang = lang_pred AS INTEGER) AS is_correct
    FROM pred GROUP BY lang, lang_pred
    """,
    doc="Classifier-evaluation shape over the lang-ID heuristic: the "
    "(label, prediction) confusion matrix with per-cell counts — the "
    "quality-monitoring twin of lang_id_ngram (same scoring expressions, "
    "shared lexer; Catalyst collapses the shared scan).  The matrix is "
    "|langs|² rows from one partial-agg shuffle — the aggregate any "
    "pipeline dashboards before trusting a filter at 100 TB.",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = lang_id_ngram(spark, sf_dir)
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "is_correct", (F.col("lang") == F.col("lang_pred")).cast("int")
        )
    )


# --- fixed-size chunking with overlap --------------------------------------

CHUNK_CHARS = 80  # chunk width (chars)
CHUNK_STRIDE = 60  # stride between chunk starts (overlap = 20)


@register(
    "text_chunk_overlap",
    oracle=f"""
    , starts AS (
        SELECT doc_id, text,
               CAST(unnest(generate_series(
                   0, (length(text) - 1) // {CHUNK_STRIDE})) AS BIGINT)
                   AS chunk_id
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, chunk_id,
           substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS BIGINT),
                  {CHUNK_CHARS}) AS chunk_text,
           CAST(length(substr(text,
                CAST(chunk_id * {CHUNK_STRIDE} + 1 AS BIGINT),
                {CHUNK_CHARS})) AS BIGINT) AS chunk_len
    FROM starts
    """,
    doc="Context-window chunking (RAG / training-sample prep): fixed "
    f"{CHUNK_CHARS}-char chunks every {CHUNK_STRIDE} chars (overlapping), "
    "via posexplode of a start-index sequence — one row fans out to "
    "ceil(len/stride) chunk rows inside the executor, embarrassingly "
    "parallel, no shuffle (scan -> generate -> project).  The repartition "
    "spreads the single-file fixture across cores; a real 100 TB scan has "
    "thousands of splits and it collapses to a no-op.",
    bench=True,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .transform(fan_out, spark)
        .filter(F.length("text") > 0)
    )
    n_chunks_last = F.floor((F.length("text") - 1) / CHUNK_STRIDE)
    chunk = F.substring(
        F.col("text"),
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_CHARS,
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0), n_chunks_last)).alias(
                "_pos", "chunk_id"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            chunk.alias("chunk_text"),
            F.length(chunk).cast("long").alias("chunk_len"),
        )
    )


# --- PII redaction ---------------------------------------------------------

# RE2-safe patterns (DuckDB is RE2: no lookaround/backrefs) that mean the
# same thing to Java's regex engine — keep both engines on the common
# subset.  Single-backslash classes: DuckDB literals are escape-free,
# Spark gets the identical pattern string.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


@register(
    "pii_redact",
    oracle=f"""
    , aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
    doc="PII redaction (email/phone masking before training): pure "
    "regexp_replace/regexp_count expressions — codegen'd, scan -> "
    "project, no shuffle, no Python.  The fixture corpus is synthetic "
    "prose with no real PII, so the query deterministically injects one "
    "email and one phone per doc (derived from doc_id) to exercise the "
    "masking end-to-end; on real data the injection projection is "
    "dropped and the same redaction expressions run unchanged.",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        F.regexp_count("raw", F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


# --- corpus-level bigram frequency ----------------------------------------

BIGRAM_TOPK = 20


@register(
    "word_bigrams_topk",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents)
    SELECT bigram, n FROM (
        SELECT bigram, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, bigram) AS rk
        FROM (
            SELECT unnest(list_transform(
                generate_series(1, len(l) - 1),
                i -> l[i] || ' ' || l[i + 1])) AS bigram
            FROM tk
        ) GROUP BY bigram
    ) WHERE rk <= {BIGRAM_TOPK}
    """,
    doc="Corpus-wide bigram frequency top-k (phrase mining / boilerplate "
    "detection): tokens long-format via posexplode, bigram formed with a "
    "per-doc lead() window (shuffle keyed on doc_id — distributes across "
    "docs), hash-agg count, then TakeOrderedAndProject for the global "
    "top-k — no single-partition window over the full vocabulary.",
)
def word_bigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bigram"),
            F.lead("tok", 1).over(w).alias("_next"),
        )
        .filter(F.col("_next").isNotNull())
        .select("bigram")
    )
    agg = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return agg.orderBy(F.desc("n"), F.asc("bigram")).limit(BIGRAM_TOPK)


# --- quality-weighted deterministic sampling -------------------------------

SAMPLE_CAP_TOKENS = 200  # keep-probability saturates at this token count
_HEX16 = "0123456789abcdef"
# hv = first 8 md5 nibbles as a 32-bit int; keep iff hv/2^32 < p where
# p = min(n_tokens, CAP)/CAP.  Cross-multiplied to pure integers:
#   hv * CAP < min(n_tokens, CAP) * 2^32
_DUCK_HV8 = " + ".join(
    f"CAST(instr('{_HEX16}', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1))"
    f" - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)


@register(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, n_tokens FROM (
        SELECT doc_id,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_tokens,
               {_DUCK_HV8} AS hv
        FROM documents
    )
    WHERE hv * {SAMPLE_CAP_TOKENS}
          < least(n_tokens, {SAMPLE_CAP_TOKENS}) * 4294967296
    """,
    doc="Quality-weighted downsampling (Datatrove/Dolma mixing shape): "
    "each doc is kept with probability proportional to its token count "
    f"(saturating at {SAMPLE_CAP_TOKENS}) — longer docs survive, stubs "
    "are thinned.  The coin is md5(doc_id), so the sample is "
    "deterministic, reproducible across engines/runs, and stable under "
    "repartitioning (what rand() sampling cannot give); the keep test "
    "is cross-multiplied to pure integer arithmetic, no float "
    "probability compare.  Scan → project → filter: no shuffle.",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    n_tok = F.size(tokens("text")).cast("long")
    return (
        docs.select("doc_id", n_tok.alias("n_tokens"), hv.alias("hv"))
        .filter(
            F.col("hv") * SAMPLE_CAP_TOKENS
            < F.least(F.col("n_tokens"), F.lit(SAMPLE_CAP_TOKENS))
            * F.lit(4294967296)
        )
        .select("doc_id", "n_tokens")
    )


# --- cross-document boilerplate mining -------------------------------------

BOILER_TOPK = 50


@register(
    "boilerplate_trigrams",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents),
    g AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(l) - 2),
                       i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))
                       AS gram
            FROM tk
        )
    )
    SELECT gram, df FROM (
        SELECT gram, CAST(count(*) AS BIGINT) AS df,
               row_number() OVER (ORDER BY count(*) DESC, gram) AS rk
        FROM g GROUP BY gram
    ) WHERE rk <= {BOILER_TOPK}
    """,
    doc="Cross-document boilerplate mining (CCNet/RefinedWeb-style): the "
    "word trigrams shared by the MOST DISTINCT documents — document "
    "frequency, not raw occurrence count, is what identifies template "
    "text (headers, disclaimers) to strip before training.  Spark: "
    "posexplode long format + per-doc lead() window forms trigrams in "
    "one doc_id-keyed shuffle, per-doc dedup is a distinct on (doc_id, "
    "gram) — partial-aggregated map-side, so repeated grams inside one "
    "doc never cross the wire — and the global top-k is "
    "TakeOrderedAndProject, never a full sort.",
)
def boilerplate_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
            ).alias("gram"),
            F.lead("tok", 2).over(w).alias("_l2"),
        )
        .filter(F.col("_l2").isNotNull())
        .select("doc_id", "gram")
        .distinct()
    )
    df_agg = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return df_agg.orderBy(F.desc("df"), F.asc("gram")).limit(BOILER_TOPK)


# --- keyword relevance ranking (BM25-shaped, log-free) ---------------------

BM25_TERMS = ("spark", "window", "hash", "vector")
BM25_K1 = "CAST(1.2 AS DOUBLE)"
BM25_B = "CAST(0.75 AS DOUBLE)"
BM25_TOPK = 50


def _bm25_score_sql(n_expr: str, dl_expr: str, avgdl_expr: str) -> str:
    """The per-document score as ONE SQL expression string, shared
    verbatim by Spark and DuckDB so every float op has the identical
    expression tree.  idf is the Robertson-Sparck-Jones rational
    (N - df + 0.5)/(df + 0.5) WITHOUT the log damping: ln() differs by
    1 ulp across libm implementations (CLAUDE.md LIBM invariant), while
    +, /, * are IEEE-exact.  Term order in the sum is the fixed literal
    order of BM25_TERMS — no data-dependent summation order."""
    parts = []
    for i, _ in enumerate(BM25_TERMS):
        tf = f"CAST(tf{i} AS DOUBLE)"
        df_ = f"CAST(df{i} AS DOUBLE)"
        idf = f"(({n_expr} - {df_} + 0.5) / ({df_} + 0.5))"
        denom = (
            f"({tf} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * "
            f"({dl_expr} / {avgdl_expr})))"
        )
        parts.append(f"{idf} * ({tf} * ({BM25_K1} + 1) / {denom})")
    return " + ".join(parts)


@register(
    "keyword_bm25_topk",
    bench=True,
    oracle=f"""
    , tk AS (
        SELECT doc_id, {duck_tokens()} AS l FROM documents
    ),
    tf AS (
        SELECT doc_id, CAST(len(l) AS BIGINT) AS dl,
               {", ".join(f"CAST(len(list_filter(l, x -> x = '{t}')) AS BIGINT) AS tf{i}" for i, t in enumerate(BM25_TERMS))}
        FROM tk
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}" for i in range(len(BM25_TERMS)))}
        FROM tf
    ),
    scored AS (
        SELECT doc_id, dl,
               CAST(floor(({_bm25_score_sql(
                   "CAST(n_docs AS DOUBLE)",
                   "CAST(dl AS DOUBLE)",
                   "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))",
               )}) * 10000) AS BIGINT) AS score_fp
        FROM tf CROSS JOIN stats
    )
    SELECT doc_id, dl, score_fp FROM (
        SELECT doc_id, dl, score_fp,
               row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= {BM25_TOPK}
    """,
    doc="Keyword relevance top-k over the corpus, BM25-shaped (Robertson "
    "et al.; k1=1.2, b=0.75) with the rational RSJ idf kept log-free "
    "for cross-engine determinism.  Term frequencies are "
    "size(filter(tokens)) — pure JVM expressions, no explode, so the "
    "scan emits one row per doc; corpus stats (N, Σdl, per-term df) "
    "reduce to a SINGLE row that broadcast-joins back — two passes over "
    "a projection of documents, zero wide shuffles; the top-k is "
    "TakeOrderedAndProject on the integer fixed-point score.",
)
def keyword_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("l"))
    def _eq(term: str):
        # single-arg lambda: a second parameter would be interpreted by
        # F.filter as the positional-index argument
        return lambda x: x == term

    tf_cols = [F.size("l").cast("long").alias("dl")] + [
        F.size(F.filter("l", _eq(t))).cast("long").alias(f"tf{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    tf = toks.select("doc_id", *tf_cols)
    stats = tf.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    score = _bm25_score_sql(
        "CAST(n_docs AS DOUBLE)",
        "CAST(dl AS DOUBLE)",
        "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))",
    )
    scored = tf.crossJoin(F.broadcast(stats)).selectExpr(
        "doc_id",
        "dl",
        f"CAST(floor(({score}) * 10000) AS BIGINT) AS score_fp",
    )
    return scored.orderBy(F.desc("score_fp"), F.asc("doc_id")).limit(
        BM25_TOPK
    )


# --- C4-style span dedup: remove cross-document boilerplate chunks ---------

SPAN_WORDS = 3       # words per non-overlapping span
SPAN_MAX_DF = 3      # spans seen in more than this many docs are boilerplate


@register(
    "boilerplate_span_removal",
    oracle=f"""
    , toks AS (
        SELECT doc_id, {duck_tokens()} AS t FROM documents
    ),
    positions AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM toks WHERE len(t) > 0
    ),
    chunks AS (
        SELECT doc_id, (i - 1) // {SPAN_WORDS} AS cid,
               string_agg(t[CAST(i AS INTEGER)], ' ' ORDER BY i) AS ch
        FROM positions GROUP BY doc_id, (i - 1) // {SPAN_WORDS}
    ),
    boiler AS (
        SELECT ch FROM chunks GROUP BY ch
        HAVING count(DISTINCT doc_id) > {SPAN_MAX_DF}
    ),
    kept AS (
        SELECT * FROM chunks WHERE ch NOT IN (SELECT ch FROM boiler)
    ),
    reb AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(ch, ' ' ORDER BY cid) AS cleaned_text
        FROM kept GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM chunks GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(tot.n_chunks, 0) AS n_chunks,
           coalesce(reb.n_kept, 0) AS n_kept,
           coalesce(reb.cleaned_text, '') AS cleaned_text
    FROM documents d
    LEFT JOIN tot ON tot.doc_id = d.doc_id
    LEFT JOIN reb ON reb.doc_id = d.doc_id
    """,
    doc="C4/RefinedWeb-style span dedup with document REBUILD: the corpus "
    f"is segmented into non-overlapping {SPAN_WORDS}-word spans, any span "
    f"occurring in more than {SPAN_MAX_DF} distinct documents is "
    "boilerplate (cookie banners, navigation, license headers in real "
    "crawls), and every document is reassembled from its surviving spans "
    "in original order.  Differs from boilerplate_trigrams (which only "
    "MINES the frequent spans) by pushing the result back through the "
    "corpus — the actual cleaning step a training pipeline runs.  "
    "Dataflow: posexplode to (doc, pos, token) long format (the "
    "fixture-proven fast path vs interpreted higher-order lambdas), "
    "span rollup keyed by (doc_id, span), document-frequency rollup "
    "keyed by span text, broadcast anti-join of the small boilerplate "
    "set, order-preserving rebuild keyed by doc_id.  Three shuffles, "
    "all on high-cardinality keys; the boilerplate set stays "
    "broadcast-small at any corpus size because it is bounded by the "
    "amount of genuinely repeated content, not by corpus rows.  "
    "Zero-token documents never enter the explode and are restored by "
    "the final LEFT JOIN from the documents base (the repetition_filter "
    "lesson from ADVICE r02).",
    bench=True,
)
def boilerplate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chunks are sliced MAP-SIDE from the token array: the token regexp
    # sits in the projection below the Generate (evaluated once per
    # document), the generator fans out one row per chunk id, and the
    # slice above it reads the already-materialized array — no (doc,
    # chunk) pre-shuffle, and no transform-lambda re-evaluation (the
    # interpreted-higher-order-function regression in CLAUDE.md).  The
    # whole query runs in two shuffles: the span-df rollup and the
    # per-doc rebuild.
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    toks = docs.select("doc_id", tokens("text").alias("t"))
    last_cid = F.floor((F.size("t") - 1) / SPAN_WORDS).cast("long")
    chunks = (
        toks.filter(F.size("t") > 0)
        .select(
            "doc_id",
            "t",
            F.posexplode(F.sequence(F.lit(0).cast("long"), last_cid)).alias(
                "_p", "cid"
            ),
        )
        .select(
            "doc_id",
            F.col("cid").cast("long").alias("cid"),
            F.expr(
                f"array_join(slice(t, CAST(cid * {SPAN_WORDS} + 1 AS INT),"
                f" {SPAN_WORDS}), ' ')"
            ).alias("ch"),
        )
    )
    boiler = (
        chunks.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("d"))
        .filter(F.col("d") > SPAN_MAX_DF)
        .select("ch")
    )
    kept = chunks.join(boiler, "ch", "left_anti")
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cid", "ch"))),
                lambda s: s["ch"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    # chunk totals derive arithmetically from the token count — no
    # second pass over the chunk rows (plan-branch recomputation lesson)
    base = toks.select(
        "doc_id",
        F.when(F.size("t") > 0, last_cid + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_chunks"),
    )
    return base.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


# --- dataset card: multi-level corpus composition summary ------------------


@register(
    "dataset_card_summary",
    oracle=f"""
    , base AS (
        SELECT source, lang, n_chars,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_toks
        FROM documents
    )
    SELECT coalesce(source, 'ALL') AS source,
           coalesce(lang, 'ALL') AS lang,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_toks) AS BIGINT) AS min_tokens,
           CAST(max(n_toks) AS BIGINT) AS max_tokens,
           CAST(sum(n_toks) * 100 // count(*) AS BIGINT) AS avg_tokens_x100
    FROM base
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
    doc="Dataset-card summary — the composition table a corpus release "
    "ships with: document/token/char totals at FOUR aggregation levels "
    "(per source×lang, per source, per lang, corpus-wide) in one "
    "GROUPING SETS pass.  Catalyst expands the sets into a single "
    "shuffle (Expand + one hash aggregate), so the corpus is scanned "
    "once, not four times — the reason GROUPING SETS beats four UNIONed "
    "queries at 100 TB.  NULL group keys from the expansion render as "
    "'ALL' (grouping-total marker) so the compared surface is "
    "string-stable; the mean is exact fixed-point (sum·100 DIV count), "
    "no float.  Complements domain_mix_stats (share-of-corpus ppm at "
    "one level) with the multi-level rollup.",
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("n_toks"),
    ).createOrReplaceTempView("card_base")
    return spark.sql(
        """
        SELECT coalesce(source, 'ALL') AS source,
               coalesce(lang, 'ALL') AS lang,
               count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(n_toks) AS BIGINT) AS min_tokens,
               CAST(max(n_toks) AS BIGINT) AS max_tokens,
               sum(n_toks) * 100 DIV count(*) AS avg_tokens_x100
        FROM card_base
        GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
        """
    )


# --- PMI collocation mining -------------------------------------------------

PMI_MIN_SUPPORT = 5
PMI_TOPK = 50
# one shared textual formula: identical double operation order on both
# engines (exact-integer inputs -> identical doubles -> identical floor)
_PMI_EXPR = (
    "CAST(floor(CAST(nxy AS DOUBLE) * CAST(n_tok AS DOUBLE)"
    " * CAST(n_tok AS DOUBLE) / CAST(n_big AS DOUBLE)"
    " / CAST(nx AS DOUBLE) / CAST(ny AS DOUBLE) * 1000) AS BIGINT)"
)


@register(
    "token_pmi_topk",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents),
    uni AS (
        SELECT tok, count(*) AS n FROM (
            SELECT unnest(l) AS tok FROM tk
        ) GROUP BY tok
    ),
    big AS (
        SELECT x, y, count(*) AS nxy FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(l) - 1), i -> l[i])) AS x,
                   unnest(list_transform(
                       generate_series(1, len(l) - 1), i -> l[i + 1])) AS y
            FROM tk
        ) GROUP BY x, y
    ),
    tot AS (
        SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS n_tok,
               (SELECT CAST(sum(nxy) AS BIGINT) FROM big) AS n_big
    )
    SELECT x, y, nxy, pmi_e3 FROM (
        SELECT x, y, nxy, {_PMI_EXPR} AS pmi_e3,
               row_number() OVER (ORDER BY {_PMI_EXPR} DESC, x, y) AS rk
        FROM (
            SELECT b.x, b.y, b.nxy, ux.n AS nx, uy.n AS ny, n_tok, n_big
            FROM big b
            JOIN uni ux ON ux.tok = b.x
            JOIN uni uy ON uy.tok = b.y
            CROSS JOIN tot
            WHERE b.nxy >= {PMI_MIN_SUPPORT}
        )
    ) WHERE rk <= {PMI_TOPK}
    """,
    doc="Pointwise-mutual-information collocation mining — the "
    "association metric behind phrase detection and tokenizer-merge "
    "scoring (word2vec-style 'new york' >> 'of the'): "
    "PMI ∝ p(xy)/(p(x)p(y)) = nxy·N²/(B·nx·ny), ranked over bigrams "
    "with min-support {PMI_MIN_SUPPORT}.  Dataflow: one bigram rollup "
    "and one unigram rollup (both hash-aggregated after the doc-keyed "
    "explode), unigram counts joined back onto the bigram table — the "
    "unigram side is VOCABULARY-bounded, so at 100 TB it broadcasts "
    "while the bigram table streams; corpus totals are a single-row "
    "cross join.  The score renders as floor(ratio·1000) from one "
    "shared double formula over exact-integer counts, and the top-50 "
    "is TakeOrderedAndProject with (score, x, y) total order.",
)
def token_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select(
            F.col("tok").alias("x"),
            F.lead("tok", 1).over(w).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    big = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    n_tok = uni.agg(F.sum("n").cast("long").alias("n_tok"))
    n_big = big.agg(F.sum("nxy").cast("long").alias("n_big"))
    ux = uni.select(F.col("tok").alias("_xt"), F.col("n").alias("nx"))
    uy = uni.select(F.col("tok").alias("_yt"), F.col("n").alias("ny"))
    scored = (
        big.filter(F.col("nxy") >= PMI_MIN_SUPPORT)
        .join(ux, F.col("x") == F.col("_xt"))
        .join(uy, F.col("y") == F.col("_yt"))
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .withColumn("pmi_e3", F.expr(_PMI_EXPR))
    )
    return (
        scored.orderBy(F.desc("pmi_e3"), F.asc("x"), F.asc("y"))
        .limit(PMI_TOPK)
        .select("x", "y", "nxy", "pmi_e3")
    )


# --- corpus snapshot diff ---------------------------------------------------


@register(
    "corpus_snapshot_diff",
    oracle="""
    , snap_a AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE doc_id % 5 <> 0
    ),
    snap_b AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
                    ELSE md5(text) END AS h
        FROM documents
    )
    SELECT coalesce(a.source, b.source) AS source,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.h <> b.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_docs
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    GROUP BY 1, 2
    """,
    doc="Corpus snapshot diff — the data-versioning audit between two "
    "releases ('what changed since the last freeze?'): snapshots "
    "compare by content hash in a FULL OUTER join on the doc key, "
    "classifying added / removed / changed / unchanged per source.  "
    "Snapshot B simulates drift deterministically (every 7th doc's "
    "text revised, every 5th doc new since A) so all four statuses "
    "are exercised.  At 100 TB both snapshots shuffle once on doc_id "
    "(or zero times if stored bucketed by it) and the hash compare "
    "moves 32-byte digests, never text — the per-day XOR fingerprint "
    "(events_table_fingerprint) answers 'did anything change?', this "
    "answers 'what, exactly'.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("a_id"),
        F.col("source").alias("a_src"),
        F.md5("text").alias("a_h"),
    )
    snap_b = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("source").alias("b_src"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.md5(F.concat(F.col("text"), F.lit(" v2"))),
        )
        .otherwise(F.md5("text"))
        .alias("b_h"),
    )
    status = (
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_h") != F.col("b_h"), "changed")
        .otherwise("unchanged")
    )
    return (
        snap_a.join(snap_b, F.col("a_id") == F.col("b_id"), "full_outer")
        .groupBy(
            F.coalesce("a_src", "b_src").alias("source"),
            status.alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- systematic weighted sampling via distributed prefix sums ---------------

SYS_SAMPLE_TARGET = 50


@register(
    "systematic_weighted_sample",
    oracle=f"""
    , weighted AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
               CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        FROM documents
    ),
    tot AS (
        SELECT greatest(CAST(sum(n_chars) AS BIGINT) // {SYS_SAMPLE_TARGET},
                        1) AS step
        FROM documents
    )
    SELECT doc_id, source, w, cum
    FROM weighted CROSS JOIN tot
    WHERE cum // step > (cum - w) // step
    """,
    doc="Systematic weighted sampling — deterministic "
    f"~{SYS_SAMPLE_TARGET}-doc draw with inclusion probability "
    "proportional to document weight (n_chars): walk the cumulative "
    "weight line, keep every document whose interval [cum−w, cum) "
    "crosses a step boundary.  Pure integer arithmetic (no RNG, no "
    "float), reproducible for data-freeze audits, and unlike md5-"
    "threshold sampling (sample_weighted) it guarantees the sample "
    "SIZE, not just the rate.  The cumulative weights are one running "
    "sum window in doc_id order, the oracle's own OVER (ORDER BY).",
)
def systematic_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    cum = docs.withColumn(
        "cum",
        F.sum("w")
        .over(W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0))
        .cast("long"),
    )
    tot = docs.agg(
        F.greatest(
            F.expr(f"sum(w) DIV {SYS_SAMPLE_TARGET}"), F.lit(1)
        ).alias("step")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.expr("cum DIV step") > F.expr("(cum - w) DIV step")
        )
        .select("doc_id", "source", "w", "cum")
    )


# --- vocabulary statistics (Heaps-law / type-token profile) -----------------


@register(
    "vocab_stats_by_lang",
    oracle=f"""
    , tf AS (
        SELECT lang, tok, count(*) AS freq
        FROM (SELECT lang, unnest({duck_tokens()}) AS tok FROM documents)
        GROUP BY lang, tok
    )
    SELECT lang,
           CAST(coalesce(sum(freq), 0) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(coalesce(sum(CASE WHEN freq = 1 THEN 1 END), 0) AS BIGINT)
               AS hapax_count,
           CAST((count(*) * 10000)
                // greatest(coalesce(sum(freq), 0), 1) AS BIGINT) AS ttr_fp
    FROM tf GROUP BY lang
    """,
    doc="Per-language vocabulary profile — the Heaps-law readout a "
    "tokenizer-training / corpus-QC pass needs: total token "
    "occurrences, vocabulary size (distinct types), hapax legomena "
    "count (freq-1 types ≈ typo/noise mass), and the type-token ratio "
    "in fixed-point ‱.  Two hash aggregates: explode → count per "
    "(lang, token) — the shuffle key distributes over the whole "
    "vocabulary, no skew — then fold per lang.  All-integer surface; "
    "integer division is on non-negative values so truncation and "
    "floor agree cross-engine.  The docs scan is repartitioned before "
    "the explode (single-file fixture = one input split otherwise).",
)
def vocab_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tf = (
        docs.select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return tf.groupBy("lang").agg(
        F.coalesce(F.sum("freq"), F.lit(0)).cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.coalesce(
            F.sum(F.when(F.col("freq") == 1, 1)), F.lit(0)
        )
        .cast("long")
        .alias("hapax_count"),
        F.expr(
            "CAST((count(1) * 10000) DIV "
            "greatest(coalesce(sum(freq), 0), 1) AS BIGINT)"
        ).alias("ttr_fp"),
    )


# --- cross-source vocabulary overlap (corpus contamination map) -------------


@register(
    "source_vocab_overlap",
    bench=True,
    oracle=f"""
    , v AS (
        SELECT DISTINCT source, tok
        FROM (SELECT source, unnest({duck_tokens()}) AS tok FROM documents)
    ),
    sz AS (SELECT source, count(*) AS nv FROM v GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.nv AS BIGINT) AS nv_a,
           CAST(sb.nv AS BIGINT) AS nv_b,
           CAST(n_common * 10000 // (sa.nv + sb.nv - n_common) AS BIGINT)
               AS jaccard_fp
    FROM inter
    JOIN sz sa ON sa.source = src_a
    JOIN sz sb ON sb.source = src_b
    """,
    doc="Pairwise vocabulary Jaccard between corpus sources — the "
    "domain-similarity map that drives mixture design and flags "
    "near-duplicate crawls before any document-level dedup runs.  "
    "Inverted-index form: distinct (source, token) postings, "
    "self-joined on the token key (shuffle distributes over the "
    "vocabulary; every pair that shares a token meets in one reduce "
    "task), then per-pair counts join two broadcast-size per-source "
    "totals.  Never materializes source×source×vocab; the token join "
    "is the same postings pattern dedup_ngram_jaccard uses.  "
    "All-integer output, non-negative integer division.",
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    # postings feed three branches (sizes + both join sides): materialize
    # the distinct once (lazy localCheckpoint) rather than re-shingling
    # the corpus per branch
    v = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .distinct()
        .transform(snapshot, eager=False)
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("nv").alias("nv_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("nv").alias("nv_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("nv_a").cast("long").alias("nv_a"),
            F.col("nv_b").cast("long").alias("nv_b"),
            F.expr(
                "CAST(n_common * 10000 DIV (nv_a + nv_b - n_common) "
                "AS BIGINT)"
            ).alias("jaccard_fp"),
        )
    )


# --- tokenizer fertility by language ----------------------------------------


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    , f AS (
        SELECT lang,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))
                    AS BIGINT) AS n_pieces
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
           CAST(sum(n_pieces) * 10000 // greatest(sum(n_words), 1)
                AS BIGINT) AS fertility_fp
    FROM f GROUP BY lang
    """,
    doc="Tokenizer fertility per language — pieces-per-word in "
    "fixed-point ‱, the readout that tells you which languages a "
    "tokenizer punishes (fertility ≫ 1 ⇒ more compute per word of "
    "content; drives per-language sampling weights in mixture "
    "design).  Both token counts are JVM-side regexp_extract_all + "
    "size — scan → project → one ~|langs|-row hash agg, no explode, "
    "no shuffle of token rows at all.  All-integer, non-negative "
    "division.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "lang",
        F.size(tokens("text")).cast("long").alias("n_words"),
        F.size(bpe_pieces("text")).cast("long").alias("n_pieces"),
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_pieces").cast("long").alias("total_pieces"),
        F.expr(
            "CAST(sum(n_pieces) * 10000 DIV greatest(sum(n_words), 1) "
            "AS BIGINT)"
        ).alias("fertility_fp"),
    )


# --- bitext candidate mining (translation-pair prefilter) -------------------

BITEXT_MIN_RATIO_BP = 8000  # keep pairs whose length ratio ≥ 0.8


@register(
    "bitext_candidate_pairs",
    oracle=f"""
    , en AS (
        SELECT source, doc_id AS en_doc, n_chars AS na FROM documents
        WHERE lang = 'en'
    ),
    de AS (
        SELECT source, doc_id AS de_doc, n_chars AS nb FROM documents
        WHERE lang = 'de'
    )
    SELECT e.source, en_doc, de_doc,
           CAST(least(na, nb) * 10000 // greatest(na, nb) AS BIGINT)
               AS len_ratio_bp
    FROM en e JOIN de d ON d.source = e.source
    WHERE least(na, nb) * 10000 // greatest(na, nb)
          >= {BITEXT_MIN_RATIO_BP}
    """,
    doc="Bitext candidate mining — the prefilter a parallel-corpus "
    "(translation-pair) pipeline runs before expensive alignment "
    "scoring: en×de documents from the same source whose lengths agree "
    "within 25% (ratio ≥ 0.8 in exact fixed-point).  The Spark plan "
    "buckets by ⌊log₂(n_chars)⌋ (= length(bin(n)) — integer math, no "
    "libm) and probes only adjacent exponent buckets: a ratio ≥ 0.8 "
    "pair can differ by at most one power of two, so the bucketed "
    "equi-join on (source, bucket) provably finds every qualifying "
    "pair while bounding fan-out per reduce key — the oracle runs the "
    "naive inequality join and the gate proves set equality.  At "
    "100 TB the (source, length-class) key distributes, no O(n²) per "
    "source.  All-integer surface.",
)
def bitext_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select(
        "source",
        F.col("doc_id").alias("en_doc"),
        F.col("n_chars").alias("na"),
        F.length(F.bin("n_chars")).alias("ex_a"),
    )
    de = docs.filter(F.col("lang") == "de").select(
        F.col("source").alias("d_source"),
        F.col("doc_id").alias("de_doc"),
        F.col("n_chars").alias("nb"),
        F.explode(
            F.array(
                F.length(F.bin("n_chars")) - 1,
                F.length(F.bin("n_chars")),
                F.length(F.bin("n_chars")) + 1,
            )
        ).alias("probe"),
    )
    ratio = F.expr("least(na, nb) * 10000 DIV greatest(na, nb)")
    return (
        en.join(
            de,
            (F.col("source") == F.col("d_source"))
            & (F.col("ex_a") == F.col("probe")),
        )
        .filter(ratio >= BITEXT_MIN_RATIO_BP)
        .select(
            "source",
            "en_doc",
            "de_doc",
            ratio.cast("long").alias("len_ratio_bp"),
        )
    )


# --- readability scoring ---------------------------------------------------


@register(
    "flesch_readability",
    oracle=f"""
    , feats AS (
        SELECT doc_id,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sentences,
               CAST(greatest(len(regexp_extract_all(lower(text),
                    '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(206835 - 1015 * n_words // n_sentences
                       - 84600 * n_syllables // greatest(n_words, 1)
                AS BIGINT) AS flesch_milli
    FROM feats
    """,
    doc="Flesch reading-ease per document, in exact milli-points: words "
    "from the shared tokenizer, sentences from terminal-punctuation "
    "runs, syllables approximated by vowel-group runs (the standard "
    "dictionary-free proxy).  The 206.835/1.015/84.6 constants are "
    "embedded pre-scaled as integers and both ratios use integer "
    "floor division on positive operands, so the surface is exact on "
    "both engines — no float ever materializes.  Plan: scan → "
    "project, embarrassingly parallel, zero shuffle.",
)
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ),
        F.lit(1),
    ).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).withColumn(
        "flesch_milli",
        F.expr(
            "CAST(206835 - 1015 * n_words DIV n_sentences "
            "- 84600 * n_syllables DIV greatest(n_words, 1) AS BIGINT)"
        ),
    )


# --- stratified k-fold cross-validation assignment --------------------------

_KFOLDS = 5


@register(
    "kfold_assignment_balance",
    oracle=f"""
    , folds AS (
        SELECT lang,
               CAST((instr('0123456789abcdef',
                           substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    * 16
                    + instr('0123456789abcdef',
                            substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                    AS BIGINT) % {_KFOLDS} AS fold
        FROM documents
    ),
    per AS (
        SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
        FROM folds GROUP BY 1, 2
    )
    SELECT lang, fold, n_docs,
           CAST(min(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS stratum_min,
           CAST(max(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS stratum_max
    FROM per
    """,
    doc=f"Stratified {_KFOLDS}-fold cross-validation assignment: fold = "
    "(first md5 byte of the stable key) mod k, so folds are "
    "reproducible across runs, engines and partitionings (the "
    "train_test_split hash contract extended to CV), and the output "
    "reports per-stratum fold balance (min/max fold size per "
    "language) — the skew check run before trusting CV variance.  "
    "One distributive aggregate plus marginal windows over the tiny "
    "(lang x fold) grid.",
)
def kfold_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hexs = "0123456789abcdef"
    h = F.md5(F.col("doc_id").cast("string"))
    byte0 = (
        (F.instr(F.lit(hexs), F.substring(h, 1, 1)) - 1) * 16
        + F.instr(F.lit(hexs), F.substring(h, 2, 1))
        - 1
    )
    per = (
        docs.select(
            "lang", (byte0.cast("long") % _KFOLDS).alias("fold")
        )
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = W.partitionBy("lang")
    return per.select(
        "lang",
        "fold",
        "n_docs",
        F.min("n_docs").over(w).cast("long").alias("stratum_min"),
        F.max("n_docs").over(w).cast("long").alias("stratum_max"),
    )


# --- token frequency spectrum + Good-Turing coverage -----------------------


@register(
    "token_freq_spectrum",
    oracle=f"""
    , tok AS (
        SELECT lang, unnest({duck_tokens()}) AS w FROM documents
    ),
    tf AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(length(bin(freq)) - 1 AS BIGINT) AS octave,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(freq) AS BIGINT) AS n_tokens
    FROM tf GROUP BY 1, 2
    """,
    doc="Frequency-of-frequencies spectrum per language: distinct token "
    "types and token mass bucketed by frequency octave (floor(log2 f) "
    "via integer bit-length — length(bin(f))-1, no libm), the "
    "Zipf/Good-Turing front-end used to size vocabularies and pick "
    "min-frequency cutoffs for tokenizer training.  Two partial-agg'd "
    "shuffles ((lang,token) counts, then the tiny octave rollup); the "
    "docs scan repartitions before the explode so the single-file "
    "fixture parallelizes.  All-integer surface.",
    tags=("text", "vocab"),
)
def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tf = (
        docs.select("lang", F.explode(tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return tf.groupBy(
        "lang", (F.length(F.bin("freq")) - 1).cast("long").alias("octave")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
    )


@register(
    "good_turing_coverage",
    oracle=f"""
    , tok AS (
        SELECT lang, unnest({duck_tokens()}) AS w FROM documents
    ),
    tf AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(freq) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons,
           CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000
                // greatest(sum(freq), 1) AS BIGINT) AS unseen_mass_ppm,
           CAST(count(*) * 1000000 // greatest(sum(freq), 1) AS BIGINT)
               AS ttr_ppm
    FROM tf GROUP BY lang
    """,
    doc="Good-Turing missing-mass estimate per language: the "
    "probability that the NEXT sampled token is unseen is estimated "
    "by the singleton share N1/N (Good 1953) — the standard answer "
    "to 'have we crawled enough of this language yet'.  Singleton/"
    "doubleton counts, unseen mass and type-token ratio in exact "
    "integer ppm; same two-shuffle shape as the spectrum (token "
    "counts partial-agg'd, per-lang rollup tiny).",
    tags=("text", "vocab"),
)
def good_turing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tf = (
        docs.select("lang", F.explode(tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ones = F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
    twos = F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
    return tf.groupBy("lang").agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        ones.cast("long").alias("n_singletons"),
        twos.cast("long").alias("n_doubletons"),
        F.expr(
            "CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000"
            " div greatest(sum(freq), 1) AS BIGINT)"
        ).alias("unseen_mass_ppm"),
        F.expr(
            "CAST(count(*) * 1000000 div greatest(sum(freq), 1) AS BIGINT)"
        ).alias("ttr_ppm"),
    )


# --- positional phrase search ----------------------------------------------

PHRASE = ("value", "table")


@register(
    "phrase_search_positional",
    oracle=f"""
    , tok AS (
        SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) - 1 AS pos
        FROM (SELECT doc_id, {duck_tokens()} AS t FROM documents)
    ),
    p1 AS (SELECT doc_id, pos FROM tok WHERE w = '{PHRASE[0]}'),
    p2 AS (SELECT doc_id, pos FROM tok WHERE w = '{PHRASE[1]}'),
    hits AS (
        SELECT a.doc_id,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(min(a.pos) AS BIGINT) AS first_pos
        FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY a.doc_id
    )
    SELECT doc_id, n_occ, first_pos
    FROM hits ORDER BY n_occ DESC, doc_id LIMIT 20
    """,
    doc=f"Positional inverted-index phrase search for the exact phrase "
    f"'{' '.join(PHRASE)}': per-term posting lists carry token "
    "positions (posexplode), and adjacency is a (doc_id, pos+1) "
    "equi-join between the two term postings — the classic phrase-"
    "query plan search engines run, needing only the two terms' "
    "postings rather than a rescan of the corpus.  The filters on "
    "the literal terms prune the exploded stream map-side before the "
    "single (doc_id) shuffle; top-20 ranking is a distributed "
    "TakeOrdered with total-order tie-break.  All-integer surface.",
    tags=("text", "search"),
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    p1 = tok.where(F.col("w") == PHRASE[0]).select("doc_id", "pos")
    p2 = tok.where(F.col("w") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )
    return hits.orderBy(F.desc("n_occ"), "doc_id").limit(20)


# --- deterministic token-dropout augmentation ------------------------------

_DROP_MOD = 10  # drop tokens whose hash bucket is 0 → ~10% dropout


@register(
    "token_dropout_augment",
    oracle=f"""
    , tok AS (
        SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) - 1 AS pos
        FROM (SELECT doc_id, {duck_tokens()} AS t FROM documents)
    ),
    kept AS (
        SELECT doc_id, w, pos FROM (
            SELECT doc_id, w, pos,
                   md5(CAST(doc_id AS VARCHAR) || ':'
                       || CAST(pos AS VARCHAR) || ':' || w) AS hh
            FROM tok
        )
        WHERE ((instr('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16
               + instr('0123456789abcdef', substr(hh, 2, 1)) - 1)
              % {_DROP_MOD} <> 0
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(w, ' ' ORDER BY pos)) AS aug_md5
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len({duck_tokens("d.text")}) AS BIGINT) AS n_tokens,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.aug_md5, md5('')) AS aug_md5
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"Deterministic token-dropout augmentation (~1/{_DROP_MOD} of "
    "tokens dropped): the drop decision is md5(doc_id:pos:token) mod "
    f"{_DROP_MOD}, so the augmented corpus is reproducible across "
    "runs, engines and partitionings — the property hash-seeded "
    "augmentation needs for cacheable training data (rand() gives "
    "none of it).  The augmented text is surfaced as its md5 (exact "
    "content check without shipping full text); zero-token and "
    "fully-dropped documents survive via the LEFT JOIN with "
    "n_kept=0/md5('') (the repetition_filter lesson).  Map-side "
    "hash-filter on the exploded stream, one (doc_id) shuffle to "
    "reassemble in position order.",
    tags=("text", "augment"),
)
def token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    hh = F.md5(
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("pos").cast("string"),
            F.col("w"),
        )
    )
    hexs = "0123456789abcdef"
    bucket = (
        (F.instr(F.lit(hexs), F.substring(hh, 1, 1)) - 1) * 16
        + F.instr(F.lit(hexs), F.substring(hh, 2, 1))
        - 1
    ) % _DROP_MOD
    kept = tok.where(bucket != 0)
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            )
        ).alias("aug_md5"),
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("aug_md5"), F.md5(F.lit(""))).alias("aug_md5"),
    )


@register(
    "bpe_first_merges",
    oracle=f"""
    , tf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({duck_tokens()}) AS w FROM documents)
        GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair, freq, w
        FROM tf, unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    )
    SELECT pair,
           CAST(sum(freq) AS BIGINT) AS n_weighted,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types
    FROM pairs GROUP BY pair
    ORDER BY n_weighted DESC, pair LIMIT 20
    """,
    doc="First BPE merge-table iteration: corpus-weighted adjacent "
    "character-pair frequencies (the argmax of this table is the "
    "first merge byte-pair-encoding training performs).  The key "
    "scale move: pairs explode from the DISTINCT token vocabulary "
    "weighted by token frequency, not from the raw token stream — "
    "the vocabulary is orders of magnitude smaller than the corpus, "
    "so after the one (token) count shuffle the pair generation "
    "touches |vocab| rows.  Top-20 via distributed TakeOrdered with "
    "total-order tie-break.  All-integer surface.",
    tags=("text", "tokenizer"),
)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = tf.where(F.length("w") >= 2).select(
        "w",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").cast("long").alias("n_weighted"),
            F.countDistinct("w").cast("long").alias("n_types"),
        )
        .orderBy(F.desc("n_weighted"), "pair")
        .limit(20)
    )


VOCAB_K = 1000  # fixed vocabulary size for OOV-rate evaluation


@register(
    "oov_rate_fixed_vocab",
    oracle=f"""
    , tok AS (
        SELECT lang, unnest({duck_tokens()}) AS w FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rk
            FROM tok GROUP BY w
        ) WHERE rk <= {VOCAB_K}
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS oov_ppm,
           CAST(count(DISTINCT CASE WHEN v.w IS NULL THEN t.w END)
                AS BIGINT) AS n_oov_types
    FROM tok t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.lang
    """,
    doc=f"Out-of-vocabulary rate per language under a fixed top-"
    f"{VOCAB_K} corpus vocabulary (freq desc, token asc — total "
    "order): the tokenizer-coverage dashboard that decides whether a "
    "vocab trained on the majority language starves the others.  The "
    "vocabulary is dimension-sized and broadcasts into the token "
    "stream (map-side membership test, no second fact shuffle); OOV "
    "mass and distinct OOV types per language in exact integers.",
    tags=("text", "vocab"),
)
def oov_rate_fixed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tok = docs.select("lang", F.explode(tokens("text")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "w", "left")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("oov_ppm"),
        F.countDistinct(
            F.when(F.col("in_vocab").isNull(), F.col("w"))
        )
        .cast("long")
        .alias("n_oov_types"),
    )


@register(
    "phrase_kwic_context",
    oracle=f"""
    , tok AS (
        SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) - 1 AS pos
        FROM (SELECT doc_id, {duck_tokens()} AS t FROM documents)
    ),
    p1 AS (SELECT doc_id, pos FROM tok WHERE w = '{PHRASE[0]}'),
    p2 AS (SELECT doc_id, pos FROM tok WHERE w = '{PHRASE[1]}'),
    first_hit AS (
        SELECT a.doc_id, CAST(min(a.pos) AS BIGINT) AS hit_pos
        FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY a.doc_id
    ),
    ctx AS (
        SELECT f.doc_id, f.hit_pos,
               array_to_string(
                   t[greatest(f.hit_pos - 2, 0) + 1 :
                     least(f.hit_pos + 3, len(t) - 1) + 1], ' ') AS kwic
        FROM first_hit f
        JOIN (SELECT doc_id, {duck_tokens()} AS t FROM documents) d
          USING (doc_id)
    )
    SELECT doc_id, hit_pos, kwic
    FROM ctx ORDER BY doc_id LIMIT 50
    """,
    doc=f"KWIC (keyword-in-context) concordance for the phrase "
    f"'{' '.join(PHRASE)}': the first hit per document rendered with "
    "±2 tokens of context — the snippet view layered on the "
    "positional phrase index, demonstrating array-slice text "
    "reconstruction without a second corpus scan per hit (the "
    "context comes from the already-tokenized array via slice + "
    "join).  Deterministic: first occurrence by position, docs "
    "ordered by id, string surface identical across engines.",
    tags=("text", "search"),
)
def phrase_kwic_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    p1 = tok.where(F.col("w") == PHRASE[0]).select("doc_id", "pos")
    p2 = tok.where(F.col("w") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    first_hit = (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.min("pos").cast("long").alias("hit_pos"))
    )
    arrs = docs.select("doc_id", tokens("text").alias("t"))
    ctx = first_hit.join(arrs, "doc_id").select(
        "doc_id",
        "hit_pos",
        F.array_join(
            F.expr(
                "slice(t, greatest(hit_pos - 2, 0) + 1,"
                " least(hit_pos + 3, size(t) - 1)"
                " - greatest(hit_pos - 2, 0) + 1)"
            ),
            " ",
        ).alias("kwic"),
    )
    return ctx.orderBy("doc_id").limit(50)


KEYNESS_SOURCE = "src0"  # focus corpus; reference = all other sources


@register(
    "source_token_keyness",
    oracle=f"""
    , tok AS (
        SELECT CASE WHEN source = '{KEYNESS_SOURCE}' THEN 1 ELSE 0 END
                   AS focus,
               unnest({duck_tokens()}) AS w
        FROM documents
    ),
    counts AS (
        SELECT w,
               CAST(sum(focus) AS BIGINT) AS a,
               CAST(sum(1 - focus) AS BIGINT) AS b
        FROM tok GROUP BY w
    ),
    tots AS (
        SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
        FROM counts
    ),
    scored AS (
        SELECT c.w, c.a, c.b,
               CAST((CAST(c.a AS HUGEINT) * t.nb - CAST(c.b AS HUGEINT)
                     * t.na) * (CAST(c.a AS HUGEINT) * t.nb
                     - CAST(c.b AS HUGEINT) * t.na) * 1000000
                    // (CAST(c.a + c.b AS HUGEINT) * t.na * t.nb
                        * (t.na + t.nb - c.a - c.b)
                        // (t.na + t.nb)) AS BIGINT) AS chi2_ppm
        FROM counts c CROSS JOIN tots t
    )
    SELECT w, a AS n_focus, b AS n_reference, chi2_ppm
    FROM scored ORDER BY chi2_ppm DESC, w LIMIT 20
    """,
    doc=f"Corpus keyness ({KEYNESS_SOURCE} vs all other sources): the "
    "20 most over/under-represented tokens by 2x2 chi-square — the "
    "contrastive-corpus keyword extraction used to characterize what "
    "makes one crawl slice different.  The statistic "
    "N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) is kept in HUGEINT/"
    "DECIMAL(38,0) with a two-step integral division (denominator "
    "pre-reduced by N) so the x1e6 surface is exact cross-engine.  "
    "One token-count shuffle; totals broadcast; distributed "
    "TakeOrdered(20) with total-order tie-break.",
    tags=("text", "stats"),
)
def source_token_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    tok = docs.select(
        F.when(F.col("source") == KEYNESS_SOURCE, 1)
        .otherwise(0)
        .alias("focus"),
        F.explode(tokens("text")).alias("w"),
    )
    counts = tok.groupBy("w").agg(
        F.sum("focus").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("focus")).cast("long").alias("b"),
    )
    tots = counts.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    scored = counts.crossJoin(F.broadcast(tots)).select(
        "w",
        "a",
        "b",
        F.expr(
            "CAST((CAST(a AS DECIMAL(38,0)) * nb - CAST(b AS"
            " DECIMAL(38,0)) * na) * (CAST(a AS DECIMAL(38,0)) * nb"
            " - CAST(b AS DECIMAL(38,0)) * na) * 1000000"
            " div (CAST(a + b AS DECIMAL(38,0)) * na * nb"
            " * (na + nb - a - b) div (na + nb)) AS BIGINT)"
        ).alias("chi2_ppm"),
    )
    return (
        scored.select(
            "w",
            F.col("a").alias("n_focus"),
            F.col("b").alias("n_reference"),
            "chi2_ppm",
        )
        .orderBy(F.desc("chi2_ppm"), "w")
        .limit(20)
    )


CHUNK_SIZES = (128, 256, 512)


@register(
    "chunk_size_sweep",
    oracle=f"""
    , nt AS (
        SELECT doc_id, CAST(len({duck_tokens()}) AS BIGINT) AS t
        FROM documents
    )
    SELECT chunk_size, n_docs, n_chunks, total_tokens,
           CAST((n_chunks * chunk_size - total_tokens) * 1000000
                // (n_chunks * chunk_size) AS BIGINT) AS padding_waste_ppm
    FROM (
        {" UNION ALL ".join(
            f'''SELECT CAST({c} AS INTEGER) AS chunk_size,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum((t + {c} - 1) // {c}) AS BIGINT) AS n_chunks,
               CAST(sum(t) AS BIGINT) AS total_tokens
        FROM nt WHERE t > 0'''
            for c in CHUNK_SIZES
        )}
    )
    """,
    doc=f"Chunk-size sweep for context packing: for chunk sizes "
    f"{CHUNK_SIZES}, the chunk count (ceil(tokens/size) per doc) and "
    "the padding waste a pad-to-size loader would burn — the "
    "fraction of every batch that is padding tokens, the number that "
    "decides between small chunks (less padding, more boundary "
    "loss) and large ones before committing a tokenization run.  "
    "All three sweep points are conditional aggregates over ONE "
    "token-count scan (the session_gap_sensitivity pattern applied "
    "to the text pipeline); concat-and-chunk packing "
    "(pack_sequences_greedy) is the zero-padding alternative the "
    "waste column argues for.  All-integer.",
    tags=("text", "packing"),
)
def chunk_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    nt = docs.select(
        F.size(tokens("text")).cast("long").alias("t")
    ).where(F.col("t") > 0)
    outs = []
    for c in CHUNK_SIZES:
        outs.append(
            nt.agg(
                F.lit(c).cast("int").alias("chunk_size"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.expr(f"(t + {c} - 1) div {c}"))
                .cast("long")
                .alias("n_chunks"),
                F.sum("t").cast("long").alias("total_tokens"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.select(
        "chunk_size",
        "n_docs",
        "n_chunks",
        "total_tokens",
        F.expr(
            "CAST((n_chunks * chunk_size - total_tokens) * 1000000"
            " div (n_chunks * chunk_size) AS BIGINT)"
        ).alias("padding_waste_ppm"),
    )


# --- reliability diagram for the stopword-density language signal -----------

# bins of 20 ppk cover the observed 0..200+ stopword-per-1000-token range
_CALIB_BIN_PPK = 20
_CALIB_NBINS = 10


@register(
    "quality_score_calibration",
    oracle=f"""
    , sc AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(toks,
                        x -> x IN ({", ".join(repr(w) for w in STOPWORDS)})))
                    AS BIGINT) * 1000 // len(toks) AS score_ppk
        FROM (SELECT doc_id, lang, {duck_tokens()} AS toks FROM documents)
        WHERE len(toks) > 0
    )
    SELECT CAST(least({_CALIB_NBINS - 1}, score_ppk // {_CALIB_BIN_PPK})
                AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS en_ppm,
           CAST(sum(score_ppk) // count(*) AS BIGINT) AS mean_score_ppk
    FROM sc
    GROUP BY least({_CALIB_NBINS - 1}, score_ppk // {_CALIB_BIN_PPK})
    """,
    doc="Reliability diagram (calibration curve) for a heuristic "
    "classifier: English-stopword density per 1000 tokens as a "
    "language-ID score, binned into {_CALIB_NBINS} fixed-width "
    "buckets, with the empirical P(lang=en) per bucket — the "
    "monotone-increasing en_ppm column is exactly the calibration "
    "evidence a corpus pipeline checks before trusting a cheap "
    "filter as a sampling signal.  Per-doc scoring is one codegen'd "
    "projection (no shuffle), the curve is a 10-group hash "
    "aggregate; all ratios are exact integer ppk/ppm.",
    tags=("text", "llm-pipeline"),
)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sc = docs.select(
        "lang",
        F.size(toks).alias("_nt"),
        count_in_list(toks, STOPWORDS).cast("long").alias("_hits"),
    ).filter(F.col("_nt") > 0).select(
        "lang",
        F.expr("_hits * 1000 DIV _nt").alias("score_ppk"),
    )
    bin_col = F.expr(
        f"CAST(least({_CALIB_NBINS - 1},"
        f" score_ppk DIV {_CALIB_BIN_PPK}) AS BIGINT)"
    )
    return sc.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
        F.expr(
            "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("en_ppm"),
        F.expr("CAST(sum(score_ppk) DIV count(*) AS BIGINT)").alias(
            "mean_score_ppk"
        ),
    )


# --- hashing-trick collision audit over the token vocabulary ----------------

# 16-bit feature space: first 4 md5 nibbles (the hv16 below) — small enough
# that the fixture vocabulary actually collides, mirroring the regime a
# hashed bag-of-words model runs in when vocab >> buckets.
_FH_NIBBLES = "0123456789abcdef"
_FH_DUCK_HV16 = " + ".join(
    f"CAST(instr('{_FH_NIBBLES}', substr(hh, {i}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (4 - i)}"
    for i in range(1, 5)
)


@register(
    "feature_hash_collision_stats",
    oracle=f"""
    , vocab AS (
        SELECT DISTINCT unnest({duck_tokens()}) AS tok FROM documents
    ),
    b AS (
        SELECT tok, {_FH_DUCK_HV16} AS bucket
        FROM (SELECT tok, md5(tok) AS hh FROM vocab)
    ),
    load AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
    SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets_used,
           CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
               AS n_collided_tokens,
           CAST(max(n) AS BIGINT) AS max_bucket_load,
           CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) * 1000000
                // sum(n) AS BIGINT) AS collision_ppm
    FROM load
    """,
    doc="Hashing-trick audit: map every distinct token to a 16-bit "
    "feature bucket (first 4 md5 nibbles) and measure how much of the "
    "vocabulary shares a bucket — the collision_ppm/max-load numbers "
    "that decide whether a hashed feature space is big enough before "
    "training a linear model on it.  Vocabulary-sized dataflow: "
    "distinct tokens (map-side partial dedup), one md5 + integer "
    "nibble fold per token, a bucket-load hash aggregate, and a "
    "single-row summary — the corpus scan dominates at any scale.",
    tags=("text", "llm-pipeline"),
)
def feature_hash_collision_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok")).distinct()
    )
    b = vocab.select(
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10)
        .cast("long")
        .alias("bucket")
    )
    load = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    return load.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_collided_tokens"),
        F.max("n").cast("long").alias("max_bucket_load"),
        F.expr(
            "CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) * 1000000"
            " DIV sum(n) AS BIGINT)"
        ).alias("collision_ppm"),
    )


# --- bigram language-model next-token accuracy ------------------------------


@register(
    "bigram_lm_next_token_accuracy",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents),
    big AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(l) - 1), i -> l[i])) AS x,
               unnest(list_transform(
                   generate_series(1, len(l) - 1), i -> l[i + 1])) AS y
        FROM tk
    ),
    trn AS (
        SELECT x, y, count(*) AS c FROM big WHERE doc_id % 10 < 9
        GROUP BY x, y
    ),
    pred AS (
        SELECT x, y AS y_hat FROM (
            SELECT x, y,
                   row_number() OVER (PARTITION BY x
                                      ORDER BY c DESC, y) AS rn
            FROM trn
        ) WHERE rn = 1
    ),
    ev AS (
        SELECT b.doc_id, b.x, b.y, p.y_hat
        FROM big b LEFT JOIN pred p ON p.x = b.x
        WHERE b.doc_id % 10 = 9
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_positions,
           CAST(sum(CASE WHEN y_hat = y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(sum(CASE WHEN y_hat IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov_context,
           CAST(sum(CASE WHEN y_hat = y THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS acc_ppm
    FROM ev JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    doc="Held-out next-token accuracy of a count-based bigram language "
    "model: train argmax-successor tables on doc_id%10<9, score every "
    "position of the doc_id%10=9 split, roll up accuracy (and "
    "unseen-context rate) per source — the cheapest end-to-end "
    "train/eval loop a data pipeline can run to compare corpus "
    "slices, and the deterministic stand-in for perplexity (argmax "
    "needs no log-probs; ties break lexicographically so the model "
    "itself is bit-stable).  Scale shape: one bigram rollup, the "
    "per-context argmax is a WindowGroupLimit over the "
    "vocabulary-bounded successor table, eval probes it with a hash "
    "equi-join on the context token, source rollup re-joins only the "
    "doc dimension.",
    tags=("text", "llm-pipeline"),
)
def bigram_lm_next_token_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    big = (
        pos.select(
            "doc_id",
            F.col("tok").alias("x"),
            F.lead("tok", 1).over(w).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    trn = (
        big.filter(F.col("doc_id") % 10 < 9)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = W.partitionBy("x").orderBy(F.desc("c"), F.asc("y"))
    pred = (
        trn.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("x", F.col("y").alias("y_hat"))
    )
    ev = (
        big.filter(F.col("doc_id") % 10 == 9)
        .join(pred, "x", "left")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        ev.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum(F.when(F.col("y_hat") == F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.sum(F.when(F.col("y_hat").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov_context"),
            F.expr(
                "CAST(sum(CASE WHEN y_hat = y THEN 1 ELSE 0 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("acc_ppm"),
        )
    )


# --- confusion matrix of the marker-word language classifier ----------------


@register(
    "langid_confusion_matrix",
    oracle=f"""
    , pred AS (
        SELECT lang,
               CASE WHEN cjk > 0 THEN 'zh'
                    WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                    WHEN es >= en AND es >= fr THEN 'es'
                    WHEN fr >= en THEN 'fr'
                    ELSE 'en' END AS lang_pred
        FROM (
            SELECT lang,
                   {_duck_marker_count(LANG_MARKERS["en"])} AS en,
                   {_duck_marker_count(LANG_MARKERS["de"])} AS de,
                   {_duck_marker_count(LANG_MARKERS["es"])} AS es,
                   {_duck_marker_count(LANG_MARKERS["fr"])} AS fr,
                   len(regexp_extract_all(text, '{CJK_RE_DUCK}')) AS cjk
            FROM (SELECT lang, text, {duck_tokens()} AS toks FROM documents)
        )
    ),
    gold AS (SELECT lang, count(*) AS n_gold FROM pred GROUP BY lang)
    SELECT p.lang AS gold_lang, p.lang_pred AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 1000000 // max(g.n_gold) AS BIGINT)
               AS share_of_gold_ppm
    FROM pred p JOIN gold g ON g.lang = p.lang
    GROUP BY p.lang, p.lang_pred
    """,
    doc="Confusion matrix of the lang_id_ngram marker-word classifier "
    "against the gold lang column: per (gold, predicted) cell the doc "
    "count and its share of the gold class in exact ppm — the "
    "diagonal is per-class recall, off-diagonal cells name the "
    "specific confusions (the eval artifact a pipeline reviews "
    "before trusting heuristic language routing; complements "
    "quality_score_calibration, which grades a score, not an "
    "argmax).  Scoring is the identical single-pass codegen'd "
    "projection as lang_id_ngram; the matrix is one hash aggregate "
    "plus a broadcast per-class total join.",
    tags=("text", "evaluation"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = lang_id_ngram(spark, sf_dir).select(
        F.col("lang").alias("gold_lang"), "lang_pred"
    )
    gold = pred.groupBy("gold_lang").agg(F.count(F.lit(1)).alias("n_gold"))
    return (
        pred.join(F.broadcast(gold), "gold_lang")
        .groupBy("gold_lang", F.col("lang_pred").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(
                "CAST(count(*) * 1000000 DIV max(n_gold) AS BIGINT)"
            ).alias("share_of_gold_ppm"),
        )
    )


# --- bigram LM count-pruning sweep ------------------------------------------

_PRUNE_THRESHOLDS = [1, 2, 4, 8]


@register(
    "bigram_prune_sweep",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents),
    big AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(l) - 1), i -> l[i])) AS x,
               unnest(list_transform(
                   generate_series(1, len(l) - 1), i -> l[i + 1])) AS y
        FROM tk
    ),
    cnt AS MATERIALIZED (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY x, y
    ),
    tot AS (SELECT sum(c) AS n_tot, count(*) AS types_tot FROM cnt),
    th AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in _PRUNE_THRESHOLDS)}) AS t(min_count))
    SELECT CAST(th.min_count AS BIGINT) AS min_count,
           CAST(sum(CASE WHEN c >= th.min_count THEN 1 ELSE 0 END)
               AS BIGINT) AS n_types_kept,
           CAST(max(types_tot) AS BIGINT) AS n_types_total,
           CAST(sum(CASE WHEN c >= th.min_count THEN c ELSE 0 END)
               AS BIGINT) AS occurrences_kept,
           CAST(sum(CASE WHEN c >= th.min_count THEN c ELSE 0 END)
                * 1000000 // max(n_tot) AS BIGINT) AS coverage_ppm
    FROM cnt CROSS JOIN th CROSS JOIN tot
    GROUP BY th.min_count
    """,
    doc="Count-pruning sweep for the bigram table behind "
    "bigram_lm_next_token_accuracy: for min-count thresholds "
    "1/2/4/8, the surviving table size (types) vs the share of "
    "corpus bigram OCCURRENCES still covered, in exact ppm — the "
    "KenLM-style pruning trade (Zipf guarantees most types are "
    "singletons carrying little mass; the sweep quantifies exactly "
    "how much model size a coverage point buys).  One bigram "
    "rollup (the same lead-window shape as the LM query), then a "
    "4-way threshold fan-out over the vocabulary-bounded count "
    "table — the corpus is scanned once.",
    tags=("text", "llm-pipeline"),
)
def bigram_prune_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    big = (
        pos.select(
            "doc_id",
            F.col("tok").alias("x"),
            F.lead("tok", 1).over(w).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    cnt = big.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).transform(snapshot, eager=False)
    tot = cnt.agg(
        F.sum("c").alias("n_tot"), F.count(F.lit(1)).alias("types_tot")
    )
    th = spark.createDataFrame(
        [(t,) for t in _PRUNE_THRESHOLDS], "min_count INT"
    )
    return (
        cnt.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("min_count").cast("long").alias("min_count"))
        .agg(
            F.sum(F.when(F.col("c") >= F.col("min_count"), 1).otherwise(0))
            .cast("long")
            .alias("n_types_kept"),
            F.max("types_tot").cast("long").alias("n_types_total"),
            F.sum(
                F.when(F.col("c") >= F.col("min_count"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("occurrences_kept"),
            F.expr(
                "CAST(sum(CASE WHEN c >= min_count THEN c ELSE 0 END)"
                " * 1000000 DIV max(n_tot) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# --- stopword pruning: inverted-index size savings --------------------------


@register(
    "stopword_pruning_index_stats",
    oracle=f"""
    , post AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({duck_tokens()}) AS tok FROM documents
        )
    ),
    cls AS (
        SELECT tok,
               CASE WHEN tok IN ({", ".join(repr(w) for w in STOPWORDS)})
                    THEN 1 ELSE 0 END AS is_stop,
               CAST(count(*) AS BIGINT) AS df
        FROM post GROUP BY tok
    )
    SELECT CAST(sum(df) AS BIGINT) AS postings_total,
           CAST(sum(CASE WHEN is_stop = 1 THEN df ELSE 0 END) AS BIGINT)
               AS postings_stopwords,
           CAST(count(*) AS BIGINT) AS vocab_total,
           CAST(sum(is_stop) AS BIGINT) AS vocab_stopwords,
           CAST(sum(CASE WHEN is_stop = 1 THEN df ELSE 0 END) * 1000000
                // sum(df) AS BIGINT) AS postings_savings_ppm,
           CAST(max(CASE WHEN is_stop = 1 THEN df END) AS BIGINT)
               AS max_stopword_df
    FROM cls
    """,
    doc="Inverted-index engineering readout: how much of the postings "
    "list (distinct doc-token pairs) the stopword list removes — "
    "the classic index-size vs phrase-recall trade (stopwords are "
    "a sliver of the vocabulary but can dominate postings volume, "
    "the reason search engines prune or impact-order them).  "
    "Postings build is one distinct-pair aggregate (map-side "
    "partial dedup), classification is a codegen'd IN-list, the "
    "summary is one row; at 100 TB only the vocabulary-sized DF "
    "table survives the first rollup.",
    tags=("text", "indexing"),
)
def stopword_pruning_index_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    post = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    cls = post.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).select(
        "df",
        F.col("tok").isin(*STOPWORDS).cast("int").alias("is_stop"),
    )
    return cls.agg(
        F.sum("df").cast("long").alias("postings_total"),
        F.sum(F.when(F.col("is_stop") == 1, F.col("df")).otherwise(0))
        .cast("long")
        .alias("postings_stopwords"),
        F.count(F.lit(1)).cast("long").alias("vocab_total"),
        F.sum("is_stop").cast("long").alias("vocab_stopwords"),
        F.expr(
            "CAST(sum(CASE WHEN is_stop = 1 THEN df ELSE 0 END) * 1000000"
            " DIV sum(df) AS BIGINT)"
        ).alias("postings_savings_ppm"),
        F.max(F.when(F.col("is_stop") == 1, F.col("df")))
        .cast("long")
        .alias("max_stopword_df"),
    )


# --- postings delta-gap compression estimate --------------------------------

_GAP_MIN_DF = 10  # size the estimate on tokens with enough postings


@register(
    "postings_gap_bits_estimate",
    oracle=f"""
    , post AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest({duck_tokens()}) AS tok FROM documents
        )
    ),
    freq AS (
        SELECT tok FROM post GROUP BY tok
        HAVING count(*) >= {_GAP_MIN_DF}
    ),
    gaps AS (
        SELECT p.tok,
               p.doc_id - lag(p.doc_id)
                   OVER (PARTITION BY p.tok ORDER BY p.doc_id) AS gap
        FROM post p JOIN freq f ON f.tok = p.tok
    ),
    bits AS (
        SELECT tok,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(2 * length(bin(CAST(gap AS BIGINT))) - 1) AS BIGINT)
                   AS elias_bits
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY tok
    )
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(n_gaps) AS BIGINT) AS n_postings_gaps,
           CAST(sum(elias_bits) AS BIGINT) AS elias_gamma_bits,
           CAST(sum(n_gaps) * 64 AS BIGINT) AS raw_bits,
           CAST(sum(elias_bits) * 1000000 // (sum(n_gaps) * 64) AS BIGINT)
               AS compressed_ratio_ppm
    FROM bits
    """,
    doc="Index-compression estimate: encode each frequent token's "
    "postings list as doc-id delta gaps and cost them in "
    "Elias-gamma bits (2*floor(log2 gap)+1 — log2 computed exactly "
    "as the binary-string length, no libm), compared against raw "
    "64-bit ids — the d-gap compression argument every search "
    "index build makes, measured on this corpus.  Gaps come from "
    "one lag window PARTITIONED BY TOKEN (high-cardinality key, "
    "bounded partitions), bit costs are pure integer string-length "
    "math, the summary is one row.",
    tags=("text", "indexing"),
)
def postings_gap_bits_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    post = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    freq = post.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    ).filter(F.col("df") >= _GAP_MIN_DF).select("tok")
    w = W.partitionBy("tok").orderBy("doc_id")
    gaps = (
        post.join(freq, "tok")
        .select("tok", (F.col("doc_id") - F.lag("doc_id", 1).over(w)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    bits = gaps.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(
            2 * F.length(F.bin(F.col("gap").cast("long"))) - 1
        ).cast("long").alias("elias_bits"),
    )
    return bits.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("n_gaps").cast("long").alias("n_postings_gaps"),
        F.sum("elias_bits").cast("long").alias("elias_gamma_bits"),
        (F.sum("n_gaps") * 64).cast("long").alias("raw_bits"),
        F.expr(
            "CAST(sum(elias_bits) * 1000000 DIV (sum(n_gaps) * 64)"
            " AS BIGINT)"
        ).alias("compressed_ratio_ppm"),
    )


# --- lang-ID accuracy stability across hash folds ---------------------------

_LANGID_FOLDS = 5


@register(
    "langid_accuracy_by_fold",
    oracle=f"""
    , pred AS (
        SELECT doc_id % {_LANGID_FOLDS} AS fold,
               CASE WHEN lang =
                    CASE WHEN cjk > 0 THEN 'zh'
                         WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                         WHEN es >= en AND es >= fr THEN 'es'
                         WHEN fr >= en THEN 'fr'
                         ELSE 'en' END
                    THEN 1 ELSE 0 END AS correct
        FROM (
            SELECT doc_id, lang,
                   {_duck_marker_count(LANG_MARKERS["en"])} AS en,
                   {_duck_marker_count(LANG_MARKERS["de"])} AS de,
                   {_duck_marker_count(LANG_MARKERS["es"])} AS es,
                   {_duck_marker_count(LANG_MARKERS["fr"])} AS fr,
                   len(regexp_extract_all(text, '{CJK_RE_DUCK}')) AS cjk
            FROM (SELECT doc_id, lang, text, {duck_tokens()} AS toks
                  FROM documents)
        )
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           CAST(sum(correct) * 1000000 // count(*) AS BIGINT) AS acc_ppm
    FROM pred GROUP BY fold
    """,
    doc="Cross-validation-style stability readout for the lang_id_ngram "
    "classifier: accuracy computed independently on {_LANGID_FOLDS} "
    "deterministic hash folds (doc_id mod {_LANGID_FOLDS}) — the "
    "fold-to-fold spread is the variance estimate that says whether "
    "the single-number accuracy (and the confusion matrix) can be "
    "trusted, the standard check before acting on an eval.  Scoring "
    "is the same codegen'd projection as lang_id_ngram; folds add "
    "one group key — no extra pass.",
    tags=("text", "evaluation"),
)
def langid_accuracy_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = lang_id_ngram(spark, sf_dir).select(
        (F.col("doc_id") % _LANGID_FOLDS).alias("fold"),
        F.when(F.col("lang") == F.col("lang_pred"), 1)
        .otherwise(0)
        .alias("correct"),
    )
    return pred.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("correct").cast("long").alias("n_correct"),
        F.expr(
            "CAST(sum(correct) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# --- token burstiness: collection frequency vs document frequency -----------

_BURST_MIN_DF = 5
_BURST_TOPK = 20


@register(
    "token_burstiness_topk",
    oracle=f"""
    , occ AS (
        SELECT doc_id, unnest({duck_tokens()}) AS tok FROM documents
    ),
    stats AS (
        SELECT tok,
               CAST(count(*) AS BIGINT) AS cf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM occ GROUP BY tok
    )
    SELECT tok, cf, df,
           CAST(cf * 100 // df AS BIGINT) AS burstiness_x100
    FROM stats
    WHERE df >= {_BURST_MIN_DF}
    ORDER BY cf * 100 // df DESC, tok
    LIMIT {_BURST_TOPK}
    """,
    doc="Lexical burstiness (Church-Gale adaptation): tokens ranked by "
    "collection-frequency over document-frequency — a token that "
    "occurs 50 times across 5 docs (bursty, topical) behaves "
    "completely differently from one occurring once in each of 50 "
    "docs (dispersed, functional), the distinction that separates "
    "keyword candidates from stopword candidates beyond raw "
    "frequency (and the 'adaptation' term smoothing LMs model).  "
    "cf and df fold in one two-measure hash aggregate (count + "
    "count distinct via partial expand), the ratio is exact x100, "
    "top-{_BURST_TOPK} with a (ratio, token) total order.",
    tags=("text", "lexical"),
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    occ = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    stats = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= _BURST_MIN_DF)
        .select(
            "tok",
            "cf",
            "df",
            F.expr("CAST(cf * 100 DIV df AS BIGINT)").alias(
                "burstiness_x100"
            ),
        )
        .orderBy(F.desc("burstiness_x100"), "tok")
        .limit(_BURST_TOPK)
    )


# --- lang-ID decision-margin histogram --------------------------------------


@register(
    "langid_margin_histogram",
    oracle=f"""
    , sc AS (
        SELECT doc_id,
               {_duck_marker_count(LANG_MARKERS["en"])} AS en,
               {_duck_marker_count(LANG_MARKERS["de"])} AS de,
               {_duck_marker_count(LANG_MARKERS["es"])} AS es,
               {_duck_marker_count(LANG_MARKERS["fr"])} AS fr
        FROM (SELECT doc_id, text, {duck_tokens()} AS toks FROM documents)
    ),
    fin AS (
        SELECT CASE
            WHEN en >= de AND en >= es AND en >= fr
                THEN en - greatest(de, es, fr)
            WHEN de >= es AND de >= fr THEN de - greatest(en, es, fr)
            WHEN es >= fr THEN es - greatest(en, de, fr)
            ELSE fr - greatest(en, de, es) END AS margin
        FROM sc
    )
    SELECT CAST(least(margin, 5) AS BIGINT) AS margin_bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM fin GROUP BY least(margin, 5)
    """,
    doc="Decision-margin histogram for the marker-word language "
    "classifier: per document the gap between the best and "
    "second-best language score (capped at 5+) — margin-0 docs are "
    "ties decided purely by the fixed tie-order, i.e. the "
    "mixed-language / ambiguous mass that langid_confusion_matrix "
    "cannot distinguish from confident errors; routing pipelines "
    "send exactly this bucket to a heavier classifier.  Same "
    "single-pass scoring projection; the margin is a pure "
    "max-vs-runner-up CASE over the four integer scores.",
    tags=("text", "evaluation"),
)
def langid_margin_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sc = docs.select(
        count_in_list(toks, LANG_MARKERS["en"]).alias("en"),
        count_in_list(toks, LANG_MARKERS["de"]).alias("de"),
        count_in_list(toks, LANG_MARKERS["es"]).alias("es"),
        count_in_list(toks, LANG_MARKERS["fr"]).alias("fr"),
    )
    margin = F.expr(
        "CASE WHEN en >= de AND en >= es AND en >= fr"
        " THEN en - greatest(de, es, fr)"
        " WHEN de >= es AND de >= fr THEN de - greatest(en, es, fr)"
        " WHEN es >= fr THEN es - greatest(en, de, fr)"
        " ELSE fr - greatest(en, de, es) END"
    )
    return sc.select(margin.alias("margin")).groupBy(
        F.expr("CAST(least(margin, 5) AS BIGINT)").alias("margin_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


# --- collection-drift census: quality trend per source over doc order -------


@register(
    "source_quality_trend_census",
    oracle=f"""
    , q AS (
        SELECT source, doc_id AS x,
               CAST(len(list_filter(toks,
                    t -> t IN ({", ".join(repr(w) for w in STOPWORDS)})))
                   AS BIGINT) * 1000
                   // greatest(len(toks), 1) AS y
        FROM (SELECT source, doc_id, {duck_tokens()} AS toks
              FROM documents)
    ),
    mo AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM q GROUP BY source
    )
    SELECT source, n AS n_docs,
           CAST(sy // n AS BIGINT) AS mean_quality_ppk,
           CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy > 0 THEN 1
                WHEN n * sxy - CAST(sx AS HUGEINT) * sy < 0 THEN -1
                ELSE 0 END AS trend_sign
    FROM mo
    """,
    doc="Collection-drift monitor: per source, the SIGN of the OLS "
    "trend of document quality (stopword density ppk, the cheap "
    "fluency proxy) over ingestion order (doc_id) — a negative "
    "trend means the source's recent crawls are degrading, the "
    "drift that silently poisons continual-pretraining mixes "
    "between full evals.  The exact-integer sign(n*Sxy - Sx*Sy) "
    "trick (trend-census family) applied to the text pipeline; one "
    "scoring projection + one moment rollup per source.",
    tags=("text", "llm-pipeline"),
)
def source_quality_trend_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    q = docs.select(
        "source",
        F.col("doc_id").alias("x"),
        count_in_list(toks, STOPWORDS).cast("long").alias("_hits"),
        F.size(toks).cast("long").alias("_nt"),
    ).select(
        "source",
        "x",
        F.expr("_hits * 1000 DIV greatest(_nt, 1)").alias("y"),
    )
    mo = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    return mo.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("CAST(sy DIV n AS BIGINT)").alias(
            "mean_quality_ppk"
        ),
        F.expr(
            "CASE WHEN n * sxy - CAST(sx AS DECIMAL(38,0)) * sy > 0 THEN 1"
            " WHEN n * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1"
            " ELSE 0 END"
        ).alias("trend_sign"),
    )


# --- emerging tokens: first-half vs second-half frequency shift -------------

_EMERGE_TOPK = 15
_EMERGE_MIN = 10  # min total occurrences


@register(
    "emerging_tokens_topk",
    oracle=f"""
    , sp AS (SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid
             FROM documents),
    occ AS (
        SELECT tok,
               CAST(sum(CASE WHEN doc_id < mid THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
               CAST(sum(CASE WHEN doc_id >= mid THEN 1 ELSE 0 END)
                   AS BIGINT) AS b
        FROM (SELECT doc_id, unnest({duck_tokens()}) AS tok
              FROM documents) CROSS JOIN sp
        GROUP BY tok
    ),
    tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM occ),
    sc AS (
        SELECT tok, a, b,
               CAST(b AS HUGEINT) * ta - CAST(a AS HUGEINT) * tb AS shift_n
        FROM occ CROSS JOIN tot
        WHERE a + b >= {_EMERGE_MIN}
    )
    SELECT tok, a AS n_first, b AS n_second,
           CAST(shift_n * 1000000
                // ((SELECT CAST(ta AS HUGEINT) * tb FROM tot))
               AS BIGINT) AS share_shift_ppm
    FROM sc
    ORDER BY shift_n DESC, tok LIMIT {_EMERGE_TOPK}
    """,
    doc="Emerging-vocabulary miner: tokens whose share of corpus "
    "occurrences grew most from the first to the second half of the "
    "collection (doc_id order as ingestion time) — trend detection "
    "for topical drift, the temporal complement of "
    "source_token_keyness's cross-source contrast.  Share shifts "
    "never materialize as floats: b*Ta - a*Tb in int128 ranks "
    "identically to the share difference, and the reported ppm "
    "divides by the exact product once.  One tokenize pass with "
    "CASE-split half counts, a vocabulary-sized score-and-rank.",
    tags=("text", "trend"),
)
def emerging_tokens_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    sp = docs.agg(
        F.expr("(min(doc_id) + max(doc_id) + 1) DIV 2").alias("mid")
    )
    occ = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .crossJoin(F.broadcast(sp))
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("doc_id") < F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("doc_id") >= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    tot = occ.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    sc = (
        occ.crossJoin(F.broadcast(tot))
        .filter(F.col("a") + F.col("b") >= _EMERGE_MIN)
        .select(
            "tok",
            "a",
            "b",
            F.expr(
                "CAST(b AS DECIMAL(38,0)) * ta"
                " - CAST(a AS DECIMAL(38,0)) * tb"
            ).alias("shift_n"),
            F.expr("CAST(ta AS DECIMAL(38,0)) * tb").alias("den"),
        )
    )
    return (
        sc.select(
            "tok",
            F.col("a").alias("n_first"),
            F.col("b").alias("n_second"),
            F.expr(
                "CAST(shift_n * 1000000 div den AS BIGINT)"
            ).alias("share_shift_ppm"),
            "shift_n",
        )
        .orderBy(F.desc("shift_n"), "tok")
        .limit(_EMERGE_TOPK)
        .drop("shift_n")
    )


# --- Cramér's V: language-source association --------------------------------

@register(
    "lang_source_cramers_v",
    oracle=f"""
    , cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    rows_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells
              GROUP BY lang),
    cols_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells
              GROUP BY source),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                  CAST(count(DISTINCT source) AS BIGINT) AS nc
           FROM cells),
    grid AS (
        SELECT r_.lang, c_.source, r_.r, c_.c,
               coalesce(cl.o, 0) AS o
        FROM rows_ r_
        CROSS JOIN cols_ c_
        LEFT JOIN cells cl ON cl.lang = r_.lang AND cl.source = c_.source
    ),
    chi AS (
        SELECT CAST(sum(
            (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * 1000000
            // (CAST(r AS HUGEINT) * c * n)
        ) AS HUGEINT) AS num
        FROM grid CROSS JOIN nn
    )
    SELECT n AS n_docs,
           CAST(nr AS BIGINT) AS n_langs, CAST(nc AS BIGINT) AS n_sources,
           CAST(num AS BIGINT) AS chi2_e6,
           CAST(floor(sqrt(
               CAST(num AS DOUBLE)
               / (1000000.0 * CAST(n AS DOUBLE)
                  * CAST(least(nr, nc) - 1 AS DOUBLE))) * 1000.0)
               AS BIGINT) AS cramers_v_x1000
    FROM chi CROSS JOIN nn
    """,
    doc="Cramér's V between document language and source — the "
    "normalized [0,1] strength of lang-source coupling a corpus "
    "designer checks before stratifying by either (V near 1: "
    "sources are language silos, dedup/mixing must cross them; "
    "near 0: languages spread evenly).  The chi-square numerator "
    "is computed cell-exactly as (O*n - r*c)^2 * 1e6 // (r*c*n) in "
    "int128 over the FULL lang x source grid (absent cells "
    "contribute their expected-count mass via the zero fill), so "
    "the statistic never sums floats; V takes one shared sqrt.  "
    "Dimension-sized throughout after one (lang, source) rollup.",
    tags=("text", "statistics"),
)
def lang_source_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).transform(snapshot, eager=False)
    rows_ = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cells.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    nn = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("nr"),
        F.countDistinct("source").cast("long").alias("nc"),
    )
    grid = (
        rows_.crossJoin(cols_)
        .join(cells, ["lang", "source"], "left")
        .select(
            "r", "c", F.coalesce("o", F.lit(0)).alias("o")
        )
    )
    chi = (
        grid.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                F.expr(
                    "(CAST(o AS DECIMAL(38,0)) * n"
                    " - CAST(r AS DECIMAL(38,0)) * c)"
                    " * (CAST(o AS DECIMAL(38,0)) * n"
                    "    - CAST(r AS DECIMAL(38,0)) * c)"
                    " * 1000000"
                    " div (CAST(r AS DECIMAL(38,0)) * c * n)"
                )
            ).alias("num")
        )
    )
    return chi.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_docs"),
        F.col("nr").alias("n_langs"),
        F.col("nc").alias("n_sources"),
        F.expr("CAST(num AS BIGINT)").alias("chi2_e6"),
        F.expr(
            "CAST(floor(sqrt(CAST(num AS DOUBLE)"
            " / (1000000.0 * CAST(n AS DOUBLE)"
            "    * CAST(least(nr, nc) - 1 AS DOUBLE))) * 1000.0)"
            " AS BIGINT)"
        ).alias("cramers_v_x1000"),
    )


# --- per-document token rarity profile --------------------------------------


@register(
    "doc_rarity_score",
    oracle=f"""
    , tok AS (
        SELECT doc_id, unnest({duck_tokens()}) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
    per_doc AS (
        SELECT t.doc_id,
               sum(f.tf) AS s_tf,
               sum(length(bin(f.tf)) - 1) AS s_l2,
               sum(CASE WHEN f.tf = 1 THEN 1 ELSE 0 END) AS hapax
        FROM tok t JOIN tf f USING (tok)
        GROUP BY t.doc_id
    ),
    base AS (
        SELECT doc_id, CAST(len({duck_tokens()}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT b.doc_id, b.n_tokens,
           CAST((10000 * coalesce(p.s_tf, 0))
                // greatest(b.n_tokens, 1) AS BIGINT) AS mean_tf_e4,
           CAST((10000 * coalesce(p.s_l2, 0))
                // greatest(b.n_tokens, 1) AS BIGINT) AS mean_log2tf_e4,
           CAST(coalesce(p.hapax, 0) AS BIGINT) AS hapax_tokens
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Per-document rarity profile for curation: mean corpus term "
    "frequency of the doc's tokens (common-word-heavy docs score "
    "high), mean floor(log2(tf)) as the robust log-scale variant "
    "(exact via binary-string length, no libm log2 — cross-engine "
    "safe), and the count of corpus-hapax tokens (tf=1, typo/noise "
    "signal).  Zero-token docs survive via the pre-explode size() "
    "base + LEFT JOIN (the repetition_filter lesson).  Scale: tf is "
    "one row per distinct term; only (doc, token) pairs shuffle, "
    "both aggregates partial-agg map-side.",
    tags=("text", "curation"),
)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = (
        tok.join(tf, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("s_tf"),
            F.sum(F.length(F.bin("tf")) - 1).alias("s_l2"),
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias(
                "hapax"
            ),
        )
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    j = base.join(per_doc, "doc_id", "left")
    return j.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST((10000 * coalesce(s_tf, 0))"
            " DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("mean_tf_e4"),
        F.expr(
            "CAST((10000 * coalesce(s_l2, 0))"
            " DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("mean_log2tf_e4"),
        F.coalesce(F.col("hapax"), F.lit(0)).cast("long").alias(
            "hapax_tokens"
        ),
    )


# --- Heaps-law vocabulary growth curve --------------------------------------


@register(
    "heaps_law_vocab_growth",
    oracle=f"""
    , base AS (
        SELECT doc_id, len({duck_tokens()}) AS n_tok,
               row_number() OVER (ORDER BY doc_id) AS rn,
               count(*) OVER () AS n_docs
        FROM documents
    ),
    dd AS (
        SELECT doc_id, n_tok,
               ((rn - 1) * 10) // n_docs + 1 AS decile
        FROM base
    ),
    first_seen AS (
        SELECT min(t.doc_id) AS first_doc
        FROM (SELECT doc_id, unnest({duck_tokens()}) AS tok
              FROM documents) t
        GROUP BY t.tok
    ),
    new_types AS (
        SELECT d.decile, count(*) AS new_types
        FROM first_seen f JOIN dd d ON d.doc_id = f.first_doc
        GROUP BY d.decile
    ),
    tok_per_decile AS (
        SELECT decile, count(*) AS n_docs_d, sum(n_tok) AS n_tok_d
        FROM dd GROUP BY decile
    )
    SELECT t.decile,
           CAST(sum(t.n_docs_d) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(t.n_tok_d) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.new_types, 0)) OVER w AS BIGINT)
               AS cum_vocab,
           CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types
    FROM tok_per_decile t LEFT JOIN new_types n USING (decile)
    WINDOW w AS (ORDER BY t.decile)
    """,
    doc="Heaps-law vocabulary growth: cumulative distinct-type count "
    "vs cumulative token count at each corpus decile (documents in "
    "doc_id order) — the curve that says whether a corpus is still "
    "yielding new vocabulary or has saturated (and thus how much a "
    "tokenizer/vocab benefits from more of it).  A type's arrival "
    "decile is min(doc_id) per token — one agg over the exploded "
    "stream, no per-prefix recount; the decile frame is 10 rows, so "
    "the running-sum window is trivially cheap.  Exact integers "
    "end-to-end.",
    tags=("text", "curation"),
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    # rn = global doc_id rank (one row_number window); n_docs via
    # aggregate + broadcast
    base = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
        F.row_number().over(W.orderBy("doc_id")).cast("long").alias("rn"),
    ).crossJoin(
        F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    )
    dd = base.select(
        "doc_id",
        "n_tok",
        F.expr("((rn - 1) * 10) DIV n_docs + 1").alias("decile"),
    )
    first_seen = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_types = (
        first_seen.join(
            dd.select("doc_id", "decile"),
            first_seen["first_doc"] == F.col("doc_id"),
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    tok_per_decile = dd.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs_d"),
        F.sum("n_tok").alias("n_tok_d"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    j = tok_per_decile.join(new_types, "decile", "left").select(
        "decile",
        "n_docs_d",
        "n_tok_d",
        F.coalesce(F.col("new_types"), F.lit(0)).alias("nt"),
    )
    return j.select(
        "decile",
        F.sum("n_docs_d").over(w).cast("long").alias("cum_docs"),
        F.sum("n_tok_d").over(w).cast("long").alias("cum_tokens"),
        F.sum("nt").over(w).cast("long").alias("cum_vocab"),
        F.col("nt").cast("long").alias("new_types"),
    )


# --- padding waste vs sequence length ----------------------------------------


@register(
    "padding_waste_by_seqlen",
    oracle=f"""
    , ntok AS (
        SELECT doc_id, CAST(len({duck_tokens()}) AS BIGINT) AS n_tok
        FROM documents
    ),
    ls AS (SELECT unnest([128, 512, 2048]) AS seq_len),
    per_doc AS (
        SELECT l.seq_len, n.n_tok,
               (n.n_tok + l.seq_len - 1) // l.seq_len AS n_seqs
        FROM ntok n CROSS JOIN ls l
    )
    SELECT seq_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_seqs) AS BIGINT) AS n_seqs_unpacked,
           CAST(sum(n_seqs) * seq_len - sum(n_tok) AS BIGINT)
               AS pad_tokens,
           CAST((1000000 * (sum(n_seqs) * seq_len - sum(n_tok)))
                // greatest(sum(n_seqs) * seq_len, 1) AS BIGINT)
               AS pad_share_ppm,
           CAST((sum(n_tok) + seq_len - 1) // seq_len AS BIGINT)
               AS n_seqs_packed
    FROM per_doc GROUP BY seq_len
    """,
    doc="Training-batch packing economics: for each candidate sequence "
    "length, how many fixed-length sequences the corpus needs when "
    "each document is chunked separately (last chunk padded) vs the "
    "dense-packing lower bound ceil(total_tokens/L), and the share of "
    "compute burned on pad tokens.  The number that decides both the "
    "seq-len choice and whether sequence packing (pack_sequences_"
    "greedy) is worth its shuffle.  Exact integer ceil-division "
    "((n+L-1) DIV L) on both engines; one scan, 3x row multiplier "
    "from the literal length array, one hash agg.",
    tags=("text", "training"),
)
def padding_waste_by_seqlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = docs.select(
        F.size(tokens("text")).cast("long").alias("n_tok")
    )
    per_doc = ntok.select(
        F.explode(F.array(F.lit(128), F.lit(512), F.lit(2048))).alias(
            "seq_len"
        ),
        "n_tok",
    ).withColumn(
        "n_seqs", F.expr("(n_tok + seq_len - 1) DIV seq_len")
    )
    return per_doc.groupBy("seq_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_seqs").cast("long").alias("n_seqs_unpacked"),
        (F.sum("n_seqs") * F.first("seq_len") - F.sum("n_tok"))
        .cast("long")
        .alias("pad_tokens"),
        F.expr(
            "CAST((1000000 * (sum(n_seqs) * seq_len - sum(n_tok)))"
            " DIV greatest(sum(n_seqs) * seq_len, 1) AS BIGINT)"
        ).alias("pad_share_ppm"),
        F.expr(
            "CAST((sum(n_tok) + seq_len - 1) DIV seq_len AS BIGINT)"
        ).alias("n_seqs_packed"),
    )


# --- Cohen's kappa: langid heuristic vs gold label ---------------------------


@register(
    "cohen_kappa_langid",
    oracle=f"""
    , pred AS (
        SELECT lang,
               CASE WHEN cjk > 0 THEN 'zh'
                    WHEN de >= en AND de >= es AND de >= fr THEN 'de'
                    WHEN es >= en AND es >= fr THEN 'es'
                    WHEN fr >= en THEN 'fr'
                    ELSE 'en' END AS lang_pred
        FROM (
            SELECT lang,
                   {_duck_marker_count(LANG_MARKERS["en"])} AS en,
                   {_duck_marker_count(LANG_MARKERS["de"])} AS de,
                   {_duck_marker_count(LANG_MARKERS["es"])} AS es,
                   {_duck_marker_count(LANG_MARKERS["fr"])} AS fr,
                   len(regexp_extract_all(text, '{CJK_RE_DUCK}')) AS cjk
            FROM (SELECT lang, text, {duck_tokens()} AS toks
                  FROM documents)
        )
    ),
    cm AS (
        SELECT lang, lang_pred, count(*) AS c
        FROM pred GROUP BY lang, lang_pred
    ),
    r AS (SELECT lang AS lab, sum(c) AS rc FROM cm GROUP BY lang),
    cl AS (SELECT lang_pred AS lab, sum(c) AS cc FROM cm GROUP BY lang_pred),
    parts AS (
        SELECT (SELECT sum(c) FROM cm) AS n,
               (SELECT sum(c) FROM cm WHERE lang = lang_pred) AS sd,
               (SELECT sum(r.rc * cl.cc)
                FROM r JOIN cl USING (lab)) AS src
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sd AS BIGINT) AS n_agree,
           CAST(src AS BIGINT) AS sum_rowcol,
           CAST((1000000 * (n * sd - src)) // (n * n - src) AS BIGINT)
               AS kappa_e6
    FROM parts
    """,
    doc="Chance-corrected agreement between the n-gram language-ID "
    "heuristic and the gold lang label: Cohen's kappa = "
    "(n·Σdiag − Σ rowᵢ·colᵢ) / (n² − Σ rowᵢ·colᵢ), computed entirely "
    "in exact integers (no doubles at all, so nothing to canonicalize) "
    "— raw accuracy (langid_accuracy_by_fold) over-credits a majority-"
    "class predictor, kappa doesn't.  The confusion matrix is "
    "|langs|² ≈ 25 cells; everything after the first hash agg is "
    "driver-trivial.",
    tags=("text", "stats"),
)
def cohen_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "lang",
        count_in_list(toks, LANG_MARKERS["en"]).alias("en"),
        count_in_list(toks, LANG_MARKERS["de"]).alias("de"),
        count_in_list(toks, LANG_MARKERS["es"]).alias("es"),
        count_in_list(toks, LANG_MARKERS["fr"]).alias("fr"),
        F.size(
            F.regexp_extract_all("text", F.lit(CJK_RE_SPARK), 0)
        ).alias("cjk"),
    )
    pred = (
        F.when(F.col("cjk") > 0, F.lit("zh"))
        .when(
            (F.col("de") >= F.col("en"))
            & (F.col("de") >= F.col("es"))
            & (F.col("de") >= F.col("fr")),
            F.lit("de"),
        )
        .when(
            (F.col("es") >= F.col("en")) & (F.col("es") >= F.col("fr")),
            F.lit("es"),
        )
        .when(F.col("fr") >= F.col("en"), F.lit("fr"))
        .otherwise(F.lit("en"))
    )
    cm = (
        scored.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cm.agg(F.sum("c").alias("n"))
    diag = cm.filter(F.col("lang") == F.col("lang_pred")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("sd")
    )
    r = cm.groupBy(F.col("lang").alias("lab")).agg(
        F.sum("c").alias("rc")
    )
    cl = cm.groupBy(F.col("lang_pred").alias("lab")).agg(
        F.sum("c").alias("cc")
    )
    src = (
        r.join(cl, "lab")
        .agg(F.sum(F.col("rc") * F.col("cc")).alias("src"))
    )
    return (
        tot.crossJoin(diag)
        .crossJoin(src)
        .select(
            F.col("n").cast("long").alias("n_docs"),
            F.col("sd").cast("long").alias("n_agree"),
            F.col("src").cast("long").alias("sum_rowcol"),
            F.expr(
                "CAST((1000000 * (n * sd - src))"
                " DIV (n * n - src) AS BIGINT)"
            ).alias("kappa_e6"),
        )
    )


# --- language diversity per source (Simpson index) ---------------------------


@register(
    "simpson_diversity_by_source",
    oracle="""
    , sl AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY source, lang
    ),
    s AS (
        SELECT source,
               sum(n) AS total,
               sum(n * (n - 1)) AS coll,
               count(*) AS n_langs
        FROM sl GROUP BY source
    )
    SELECT source,
           CAST(total AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST((1000000 * coll)
                // greatest(total * (total - 1), 1) AS BIGINT)
               AS simpson_ppm,
           CAST((10000 * total * (total - 1))
                // greatest(coll, 1) AS BIGINT) AS inv_simpson_e4
    FROM s
    """,
    doc="Language concentration per document source: Simpson's "
    "collision probability D = Σ nᵢ(nᵢ−1) / (N(N−1)) (the chance two "
    "random docs from the source share a language) and its inverse — "
    "the 'effective number of languages' the source really "
    "contributes, the number that matters when balancing a "
    "multilingual training mix (a source listing 5 langs at "
    "inv-Simpson 1.1 is monolingual in practice).  All exact integer "
    "arithmetic; two nested hash aggs over (source, lang) — "
    "map-combinable, no window, no doubles.",
    tags=("text", "mixing"),
)
def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    s = sl.groupBy("source").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("coll"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return s.select(
        "source",
        F.col("total").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.expr(
            "CAST((1000000 * coll)"
            " DIV greatest(total * (total - 1), 1) AS BIGINT)"
        ).alias("simpson_ppm"),
        F.expr(
            "CAST((10000 * total * (total - 1))"
            " DIV greatest(coll, 1) AS BIGINT)"
        ).alias("inv_simpson_e4"),
    )


# --- char-trigram overlap between languages ----------------------------------


@register(
    "char_trigram_lang_overlap",
    oracle=f"""
    , norm AS (
        SELECT lang, substr({duck_normalized()}, 1, 200) AS nt
        FROM documents
    ),
    tri AS (
        SELECT lang, substr(nt, CAST(i AS INTEGER), 3) AS tri,
               count(*) AS cnt
        FROM (SELECT lang, nt,
                     unnest(generate_series(1,
                         greatest(length(nt) - 2, 0))) AS i
              FROM norm)
        GROUP BY lang, substr(nt, CAST(i AS INTEGER), 3)
    ),
    top AS (
        SELECT lang, tri FROM (
            SELECT lang, tri,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY cnt DESC, tri) AS r
            FROM tri
        ) WHERE r <= 100
    ),
    sz AS (SELECT lang, count(*) AS n FROM top GROUP BY lang),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS i
        FROM top a JOIN top b
          ON a.tri = b.tri AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT i.lang_a, i.lang_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(i.i AS BIGINT) AS n_shared,
           CAST((1000000 * i.i) // (sa.n + sb.n - i.i) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sz sa ON sa.lang = i.lang_a
    JOIN sz sb ON sb.lang = i.lang_b
    """,
    doc="Script/orthography proximity between corpus languages: Jaccard "
    "overlap of each language's top-100 character trigrams (from the "
    "first 200 normalized chars per doc — a fixed prefix bounds the "
    "explode fan-out regardless of document length).  High en/de "
    "overlap and near-zero anything/zh overlap is the expected "
    "signature; drift from it flags mislabeled languages feeding the "
    "langid stages.  Rank-based set comparison — no floats anywhere; "
    "the pair join runs on 100-row-per-lang sets, driver-trivial "
    "after the trigram agg.",
    tags=("text", "langid"),
)
def char_trigram_lang_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    norm = docs.select(
        "lang",
        F.substring(normalized_text("text"), 1, 200).alias("nt"),
    ).filter(F.length("nt") >= 3)
    tri = (
        norm.select(
            "lang",
            "nt",
            F.explode(
                F.sequence(F.lit(1), F.length("nt") - 2)
            ).alias("i"),
        )
        .select(
            "lang", F.expr("substring(nt, i, 3)").alias("tri")
        )
        .groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        tri.withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("cnt"), "tri")
            ),
        )
        .filter(F.col("r") <= 100)
        .select("lang", "tri")
        # <=100 rows per lang, read by the sizes and both join sides —
        # materialize once so the trigram explode runs once, not 3x
        .transform(snapshot, eager=True)
    )
    sz = top.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = top.select(F.col("lang").alias("lang_a"), "tri")
    b = top.select(F.col("lang").alias("lang_b"),
                   F.col("tri").alias("trib"))
    inter = (
        a.join(
            b,
            (F.col("tri") == F.col("trib"))
            & (F.col("lang_a") < F.col("lang_b")),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("i").cast("long").alias("n_shared"),
            F.expr(
                "CAST((1000000 * i) DIV (n_a + n_b - i) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# --- curriculum staging by stopword-density quantile --------------------------


@register(
    "curriculum_quality_stages",
    oracle=f"""
    , scored AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST((10000 * len(list_filter(toks, x -> x IN
                    ({", ".join(repr(w) for w in STOPWORDS)}))))
                    // greatest(len(toks), 1) AS BIGINT) AS sw_e4
        FROM (SELECT doc_id, {duck_tokens()} AS toks FROM documents)
    ),
    rk AS (
        SELECT doc_id, n_toks, sw_e4,
               row_number() OVER (ORDER BY sw_e4 DESC, doc_id) AS rn,
               count(*) OVER () AS n
        FROM scored
    ),
    st AS (
        SELECT ((rn - 1) * 4) // n + 1 AS stage, n_toks, sw_e4
        FROM rk
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(min(sw_e4) AS BIGINT) AS min_sw_e4,
           CAST(max(sw_e4) AS BIGINT) AS max_sw_e4,
           CAST(sum(sw_e4) // count(*) AS BIGINT) AS mean_sw_e4
    FROM st GROUP BY stage
    """,
    doc="Curriculum staging: rank documents by stopword density (the "
    "cheapest fluency proxy — C4-style) and cut the corpus into 4 "
    "equal-count stages, cleanest-first, reporting each stage's token "
    "budget and score band.  This is the table a curriculum schedule "
    "is built from: stage 1 trains first, stage 4 (low-stopword = "
    "listy/boilerplate/code-ish text) lands late or gets downweighted."
    "  Integer fixed-point score, total-ordered ranking "
    "(sw_e4 DESC, doc_id) as one global row_number.",
    tags=("text", "training"),
)
def curriculum_quality_stages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        (10000 * count_in_list(toks, STOPWORDS))
        .cast("long")
        .alias("sw_num"),
    ).withColumn(
        "sw_e4",
        F.expr("CAST(sw_num DIV greatest(n_toks, 1) AS BIGINT)"),
    )
    # global DESC rank + broadcast scalar count
    rk = scored.withColumn(
        "rn",
        F.row_number()
        .over(W.orderBy(F.col("sw_e4").desc(), "doc_id"))
        .cast("long"),
    ).crossJoin(
        F.broadcast(docs.agg(F.count(F.lit(1)).alias("n")))
    )
    st = rk.select(
        F.expr("((rn - 1) * 4) DIV n + 1").alias("stage"),
        "n_toks",
        "sw_e4",
    )
    return st.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.min("sw_e4").cast("long").alias("min_sw_e4"),
        F.max("sw_e4").cast("long").alias("max_sw_e4"),
        F.expr("CAST(sum(sw_e4) DIV count(*) AS BIGINT)").alias(
            "mean_sw_e4"
        ),
    )


# --- branching factor of the bigram graph by head-token rank ------------------


@register(
    "bigram_branching_factor",
    oracle=f"""
    , tk AS (SELECT doc_id, {duck_tokens()} AS l FROM documents),
    bg AS (
        SELECT t1, t2, count(*) AS c FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(l) - 1), i -> l[i])) AS t1,
                   unnest(list_transform(
                       generate_series(1, len(l) - 1), i -> l[i + 1])) AS t2
            FROM tk
        ) GROUP BY t1, t2
    ),
    per_head AS (
        SELECT t1,
               count(*) AS n_succ,
               sum(c) AS total,
               max(c) AS top_c
        FROM bg GROUP BY t1
    ),
    head AS (
        SELECT t1, n_succ, total, top_c,
               row_number() OVER (ORDER BY total DESC, t1) AS rk
        FROM per_head
    )
    SELECT (rk - 1) // 100 AS rank_band,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(total) AS BIGINT) AS n_bigram_occurrences,
           CAST((10000 * sum(n_succ)) // count(*) AS BIGINT)
               AS mean_branching_e4,
           CAST((1000000 * sum(top_c)) // sum(total) AS BIGINT)
               AS top_successor_share_ppm
    FROM head WHERE rk <= 1000
    GROUP BY (rk - 1) // 100
    """,
    doc="Lexical predictability without entropy: for the 1000 most "
    "frequent bigram-head tokens (banded by rank into 10 groups of "
    "100), the mean number of DISTINCT successor tokens and the share "
    "of occurrences captured by the single most likely successor — "
    "the branching numbers a bigram LM (bigram_lm_next_token_accuracy)"
    " is bounded by, rank-based so no cross-engine log.  High-rank "
    "function words branch wide with low top-share; a high top-share "
    "band is boilerplate (fixed phrases) the dedup stages should "
    "see.  Bigram formation is per-doc lead() (doc_id-keyed shuffle); "
    "the head ranking runs over the aggregated vocabulary, not token "
    "occurrences.",
    tags=("text", "lm"),
)
def bigram_branching_factor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark)
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            F.col("tok").alias("t1"),
            F.lead("tok", 1).over(w).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_head = bg.groupBy("t1").agg(
        F.count(F.lit(1)).alias("n_succ"),
        F.sum("c").alias("total"),
        F.max("c").alias("top_c"),
    )
    # only the top 1000 head tokens matter: distributed top-k
    # (TakeOrderedAndProject on the (total DESC, t1) total order), then
    # rank just the 1000 survivors — never a global row_number over the
    # SCALING vocabulary dimension
    head = (
        per_head.orderBy(F.desc("total"), "t1")
        .limit(1000)
        .select(
            "n_succ",
            "total",
            "top_c",
            F.row_number()
            .over(W.orderBy(F.desc("total"), "t1"))
            .alias("rk"),
        )
    )
    return head.groupBy(
        F.expr("(rk - 1) DIV 100").alias("rank_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("total").cast("long").alias("n_bigram_occurrences"),
        F.expr(
            "CAST((10000 * sum(n_succ)) DIV count(*) AS BIGINT)"
        ).alias("mean_branching_e4"),
        F.expr(
            "CAST((1000000 * sum(top_c)) DIV sum(total) AS BIGINT)"
        ).alias("top_successor_share_ppm"),
    )


# --- sentence length profile per language --------------------------------------


@register(
    "sentence_length_profile",
    oracle="""
    , sent AS (
        SELECT lang,
               len(regexp_extract_all(lower(s), '[a-z0-9]+')) AS n_tok
        FROM (
            SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents
        ) WHERE length(trim(s)) > 0
    ),
    r AS (
        SELECT lang, n_tok,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_tok) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM sent
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_sentences,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST((10000 * sum(n_tok)) // max(n) AS BIGINT)
               AS mean_len_e4,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_tok END)
               AS BIGINT) AS p50_len,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tok END)
               AS BIGINT) AS p90_len
    FROM r GROUP BY lang
    """,
    doc="Sentence-length distribution per language: split on "
    "terminal punctuation runs, token-count each sentence, report "
    "exact nearest-rank P50/P90 and the fixed-point mean — the "
    "distributional view behind flesch_readability's per-doc "
    "average, and the profile that distinguishes prose (tight "
    "unimodal lengths) from lists/tables (spiky) per language "
    "before choosing chunking parameters.  Ranking ties are benign "
    "(rank on the value itself); one explode + one lang-partitioned "
    "rank window.",
    tags=("text",),
)
def sentence_length_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    sent = (
        docs.select(
            "lang",
            F.explode(F.split("text", "[.!?]+")).alias("s"),
        )
        .filter(F.length(F.trim("s")) > 0)
        .select(
            "lang",
            F.size(
                F.regexp_extract_all(F.lower("s"), F.lit("[a-z0-9]+"), 0)
            ).alias("n_tok"),
        )
    )
    r = sent.select(
        "lang",
        "n_tok",
        F.row_number()
        .over(W.partitionBy("lang").orderBy("n_tok"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    return r.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_sentences"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((10000 * sum(n_tok)) DIV max(n) AS BIGINT)"
        ).alias("mean_len_e4"),
        F.max(
            F.when(F.expr("rn = (n + 1) DIV 2"), F.col("n_tok"))
        ).cast("long").alias("p50_len"),
        F.max(
            F.when(F.expr("rn = (9 * n + 9) DIV 10"), F.col("n_tok"))
        ).cast("long").alias("p90_len"),
    )


# --- token mass by document-length bucket ---------------------------------------


@register(
    "token_mass_by_doclen_bucket",
    oracle=f"""
    , nt AS (
        SELECT CAST(len({duck_tokens()}) AS BIGINT) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT length(bin(n_tok + 1)) - 1 AS log2_bucket, n_tok
        FROM nt
    ),
    per AS (
        SELECT log2_bucket, count(*) AS n_docs, sum(n_tok) AS toks
        FROM b GROUP BY log2_bucket
    ),
    tot AS (SELECT sum(toks) AS t FROM per)
    SELECT p.log2_bucket,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.toks AS BIGINT) AS n_tokens,
           CAST((1000000 * p.toks) // t.t AS BIGINT)
               AS token_share_ppm,
           CAST(sum(1000000 * p.toks) OVER (ORDER BY p.log2_bucket)
                // t.t AS BIGINT) AS cum_share_ppm
    FROM per p CROSS JOIN tot t
    """,
    doc="Where does the token mass live?  Documents bucketed by "
    "power-of-two token length (exact floor(log2(n+1)) via binary-"
    "string length) with each bucket's share of TOTAL CORPUS TOKENS "
    "and the cumulative share — the answer to 'is there enough "
    "long-document data to train a long-context model, or is 95 % of "
    "the token mass in sub-512-token pages?'.  Doc-count histograms "
    "mislead here because long docs are rare but token-heavy; this "
    "weighs by tokens.  One scan, one ~20-group agg, a running sum "
    "over the bucket axis.",
    tags=("text", "training"),
)
def token_mass_by_doclen_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = docs.select(
        F.size(tokens("text")).cast("long").alias("n_tok")
    )
    b = nt.select(
        (F.length(F.bin(F.col("n_tok") + 1)) - 1).alias("log2_bucket"),
        "n_tok",
    )
    per = b.groupBy("log2_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("toks")
    )
    tot = per.agg(F.sum("toks").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("log2_bucket").cast("long").alias("log2_bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("toks").cast("long").alias("n_tokens"),
        F.expr("CAST((1000000 * toks) DIV t AS BIGINT)").alias(
            "token_share_ppm"
        ),
        F.expr(
            "CAST(sum(1000000 * toks) OVER (ORDER BY log2_bucket"
            " ROWS UNBOUNDED PRECEDING) DIV t AS BIGINT)"
        ).alias("cum_share_ppm"),
    )


# --- vocabulary size vs corpus coverage curve ---------------------------------------


@register(
    "vocab_size_coverage_curve",
    oracle=f"""
    , tf AS (
        SELECT tok, count(*) AS c
        FROM (SELECT unnest({duck_tokens()}) AS tok FROM documents)
        GROUP BY tok
    ),
    rk AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        FROM tf
    ),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM rk),
    sweep AS (SELECT unnest([100, 1000, 10000]) AS vocab_size)
    SELECT s.vocab_size,
           CAST(max(t.v) AS BIGINT) AS corpus_vocab,
           CAST(sum(CASE WHEN r.r <= s.vocab_size THEN r.c ELSE 0 END)
               AS BIGINT) AS tokens_covered,
           CAST((1000000 * sum(CASE WHEN r.r <= s.vocab_size
                                    THEN r.c ELSE 0 END))
                // max(t.n) AS BIGINT) AS coverage_ppm
    FROM rk r CROSS JOIN sweep s CROSS JOIN tot t
    GROUP BY s.vocab_size
    """,
    doc="Tokenizer sizing curve: the share of all token occurrences "
    "covered by the top-100 / top-1k / top-10k vocabulary (frequency "
    "rank with total-order tie-break) — the empirical curve behind "
    "choosing a vocab size, turning oov_rate_fixed_vocab's single "
    "point into the sweep, and Zipf's law into a budget number "
    "(if top-1k already covers 99 %, a 50k vocab buys almost "
    "nothing on this corpus).  The rank runs over the aggregated "
    "vocabulary (one row per type, not per occurrence); exact "
    "integers.",
    tags=("text", "training"),
)
def vocab_size_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    tf = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # coverage only needs ranks <= max(vocab_size)=10000: distributed
    # top-k on the (c DESC, tok) total order, rank the survivors — the
    # SCALING full-vocabulary relation is never globally ranked; totals
    # come from one aggregate over the materialized frequency table
    tf = tf.transform(snapshot, eager=False)
    rk = (
        tf.orderBy(F.desc("c"), "tok")
        .limit(10000)
        .select(
            "c",
            F.row_number().over(W.orderBy(F.desc("c"), "tok")).alias("r"),
        )
    )
    tot = tf.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    sweep = spark.createDataFrame(
        [(100,), (1000,), (10000,)], "vocab_size INT"
    )
    return (
        rk.crossJoin(F.broadcast(sweep))
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size")
        .agg(
            F.max("v").cast("long").alias("corpus_vocab"),
            F.sum(
                F.when(F.col("r") <= F.col("vocab_size"), F.col("c"))
                .otherwise(0)
            ).cast("long").alias("tokens_covered"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN r <= vocab_size"
                " THEN c ELSE 0 END)) DIV max(n) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# --- which quality-gate condition fails, per source -----------------------------------


@register(
    "quality_fail_reason_breakdown",
    oracle=f"""
    , lab AS (
        SELECT source,
               CASE WHEN n_toks < 20 THEN 1 ELSE 0 END AS f_short,
               CASE WHEN cpt < 3 THEN 1 ELSE 0 END AS f_cpt_low,
               CASE WHEN cpt > 12 THEN 1 ELSE 0 END AS f_cpt_high,
               CASE WHEN sw_ratio < 0.01 THEN 1 ELSE 0 END AS f_sw
        FROM (
            SELECT source,
                   len(toks) AS n_toks,
                   CAST(len(list_filter(toks, x -> x IN
                        ({", ".join(repr(w) for w in STOPWORDS)})))
                        AS DOUBLE) / greatest(len(toks), 1) AS sw_ratio,
                   CAST(length(text) AS DOUBLE)
                       / greatest(len(toks), 1) AS cpt
            FROM (SELECT source, text, {duck_tokens()} AS toks
                  FROM documents)
        )
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f_short + f_cpt_low + f_cpt_high + f_sw
                              > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failed,
           CAST(sum(f_short) AS BIGINT) AS n_too_short,
           CAST(sum(f_cpt_low) AS BIGINT) AS n_cpt_low,
           CAST(sum(f_cpt_high) AS BIGINT) AS n_cpt_high,
           CAST(sum(f_sw) AS BIGINT) AS n_stopword_poor
    FROM lab GROUP BY source
    """,
    doc="Actionable quality triage: per source, WHICH condition of the "
    "C4/Gopher gate (quality_filter_pass) rejects documents — too "
    "short, chars-per-token too low (fragmented/CJK-misread), too "
    "high (unbroken blobs), or stopword-poor (lists/code).  A source "
    "failing 90 % on one reason gets a targeted extractor fix; the "
    "pass/fail rate alone (corpus_pipeline_funnel) can't say that.  "
    "Reasons are counted independently (a doc can fail several).  "
    "One scan, one agg; the ratio comparisons reuse the gate's exact "
    "expressions so this decomposition ties out with the filter.",
    tags=("text", "dq"),
)
def quality_fail_reason_breakdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    cpt = F.length("text").cast("double") / F.greatest(n_toks, F.lit(1))
    lab = docs.select(
        "source",
        F.when(n_toks < 20, 1).otherwise(0).alias("f_short"),
        F.when(cpt < 3, 1).otherwise(0).alias("f_cpt_low"),
        F.when(cpt > 12, 1).otherwise(0).alias("f_cpt_high"),
        F.when(sw_ratio < 0.01, 1).otherwise(0).alias("f_sw"),
    )
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("f_short")
                + F.col("f_cpt_low")
                + F.col("f_cpt_high")
                + F.col("f_sw")
                > 0,
                1,
            ).otherwise(0)
        ).cast("long").alias("n_failed"),
        F.sum("f_short").cast("long").alias("n_too_short"),
        F.sum("f_cpt_low").cast("long").alias("n_cpt_low"),
        F.sum("f_cpt_high").cast("long").alias("n_cpt_high"),
        F.sum("f_sw").cast("long").alias("n_stopword_poor"),
    )


# --- boilerplate share at sentence grain -----------------------------------------------


@register(
    "boilerplate_sentence_share",
    oracle="""
    , sent AS (
        SELECT source, md5(trim(s)) AS sk
        FROM (
            SELECT source,
                   unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents
        ) WHERE length(trim(s)) > 0
    ),
    df AS (
        SELECT sk, count(*) AS occ FROM sent GROUP BY sk
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(CASE WHEN d.occ > 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate,
           CAST((1000000 * sum(CASE WHEN d.occ > 10 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS boilerplate_ppm,
           CAST(max(d.occ) AS BIGINT) AS max_sentence_occ
    FROM sent s JOIN df d USING (sk)
    GROUP BY s.source
    """,
    doc="Boilerplate at sentence grain (the C4 practice): hash each "
    "terminal-punctuation-delimited sentence, count corpus-wide "
    "occurrences, and report per source the share of sentence "
    "instances that repeat more than 10 times — cookie banners, "
    "nav text and legal footers live here, below document-level "
    "dedup's radar and above trigram noise "
    "(boilerplate_trigrams/span_removal operate at n-gram grain; "
    "this is the removal unit an extractor actually drops).  "
    "One digest agg + one re-join keyed on the digest; exact "
    "integers.",
    tags=("text", "dedup"),
)
def boilerplate_sentence_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    sent = (
        docs.select(
            "source", F.explode(F.split("text", "[.!?]+")).alias("s")
        )
        .filter(F.length(F.trim("s")) > 0)
        .select("source", F.md5(F.trim("s")).alias("sk"))
    )
    df = sent.groupBy("sk").agg(F.count(F.lit(1)).alias("occ"))
    return (
        sent.join(df, "sk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(
                F.when(F.col("occ") > 10, 1).otherwise(0)
            ).cast("long").alias("n_boilerplate"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN occ > 10 THEN 1"
                " ELSE 0 END)) DIV count(*) AS BIGINT)"
            ).alias("boilerplate_ppm"),
            F.max("occ").cast("long").alias("max_sentence_occ"),
        )
    )


# --- token keyness of quality-failing documents -------------------------------------------


@register(
    "quality_fail_token_keyness",
    oracle=f"""
    , lab AS (
        SELECT CASE WHEN len(toks) >= 20
                         AND CAST(length(text) AS DOUBLE)
                             / greatest(len(toks), 1) BETWEEN 3 AND 12
                         AND CAST(len(list_filter(toks, x -> x IN
                              ({", ".join(repr(w) for w in STOPWORDS)})))
                              AS DOUBLE) / greatest(len(toks), 1) >= 0.01
                    THEN 0 ELSE 1 END AS failed,
               toks
        FROM (SELECT text, {duck_tokens()} AS toks FROM documents)
    ),
    tok AS (
        SELECT failed, unnest(toks) AS tok FROM lab
    ),
    cnt AS (
        SELECT tok,
               sum(failed) AS f,
               sum(1 - failed) AS p
        FROM tok GROUP BY tok
    ),
    tot AS (
        SELECT sum(f) AS tf, sum(p) AS tp FROM cnt
    )
    SELECT tok,
           CAST(f AS BIGINT) AS n_in_failed,
           CAST(p AS BIGINT) AS n_in_passed,
           CAST(((f + 1) * (t.tp + 1) * 1000)
                // ((p + 1) * (t.tf + 1)) AS BIGINT) AS lift_e3,
           CAST(row_number() OVER (
               ORDER BY ((f + 1) * (t.tp + 1) * 1000)
                        // ((p + 1) * (t.tf + 1)) DESC, tok
           ) AS BIGINT) AS rank
    FROM cnt CROSS JOIN tot t
    QUALIFY rank <= 25
    """,
    doc="What do rejected documents SAY?  Add-one-smoothed relative "
    "token rate between quality-gate failures and passes — top-25 "
    "tokens by lift toward the failing class, the error signature "
    "that tells an extractor owner what pattern the gate is "
    "rejecting (nav text? code? a single broken source template?). "
    " Integer-smoothed lift ((f+1)(P+1))/((p+1)(F+1)) in e3 "
    "fixed-point — the log-odds keyness statistic without the log, "
    "same ranking.  One exploded agg over (token, class), "
    "vocabulary-sized ranking.",
    tags=("text", "dq"),
)
def quality_fail_token_keyness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    cpt = F.length("text").cast("double") / F.greatest(n_toks, F.lit(1))
    lab = docs.select(
        F.when(
            (n_toks >= 20)
            & (cpt >= 3)
            & (cpt <= 12)
            & (sw_ratio >= 0.01),
            0,
        )
        .otherwise(1)
        .alias("failed"),
        toks.alias("toks"),
    )
    tok = lab.select("failed", F.explode("toks").alias("tok"))
    cnt = tok.groupBy("tok").agg(
        F.sum("failed").alias("f"),
        F.sum(1 - F.col("failed")).alias("p"),
    )
    tot = cnt.agg(F.sum("f").alias("tf"), F.sum("p").alias("tp"))
    scored = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.col("f").cast("long").alias("n_in_failed"),
        F.col("p").cast("long").alias("n_in_passed"),
        F.expr(
            "CAST(((f + 1) * (tp + 1) * 1000)"
            " DIV ((p + 1) * (tf + 1)) AS BIGINT)"
        ).alias("lift_e3"),
    )
    # top-25 via distributed top-k on the (lift DESC, tok) total order,
    # then rank only the survivors — no global row_number over the
    # SCALING vocabulary
    return (
        scored.orderBy(F.desc("lift_e3"), "tok")
        .limit(25)
        .select(
            "*",
            F.row_number()
            .over(W.orderBy(F.desc("lift_e3"), "tok"))
            .cast("long")
            .alias("rank"),
        )
    )


# --- source-language purity against the majority label ----------------------------------


@register(
    "source_lang_majority_purity",
    oracle="""
    , sl AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY source, lang
    ),
    mj AS (
        SELECT source, lang AS major_lang, n AS major_n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n DESC, lang) AS r
        FROM sl
    ),
    tot AS (SELECT source, sum(n) AS total FROM sl GROUP BY source)
    SELECT m.source,
           m.major_lang,
           CAST(t.total AS BIGINT) AS n_docs,
           CAST(m.major_n AS BIGINT) AS n_major,
           CAST((1000000 * m.major_n) // t.total AS BIGINT)
               AS purity_ppm,
           CAST(t.total - m.major_n AS BIGINT) AS n_off_major
    FROM mj m JOIN tot t USING (source)
    WHERE m.r = 1
    """,
    doc="Monolingual-source verification: each source's majority "
    "language and how pure it is — a 'German news' source at 70 % "
    "purity either has a langid problem or a scraping problem, and "
    "either way its off-majority docs are the first place to audit "
    "(simpson_diversity_by_source scores diversity; this names the "
    "winner and isolates the residue).  One (source, lang) agg, "
    "argmax with lang tie-break; exact integers.",
    tags=("text", "langid", "dq"),
)
def source_lang_majority_purity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    mj = sl.select(
        "source",
        F.col("lang").alias("major_lang"),
        F.col("n").alias("major_n"),
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.desc("n"), "lang"))
        .alias("r"),
    ).filter(F.col("r") == 1)
    tot = sl.groupBy("source").agg(F.sum("n").alias("total"))
    return mj.join(F.broadcast(tot), "source").select(
        "source",
        "major_lang",
        F.col("total").cast("long").alias("n_docs"),
        F.col("major_n").cast("long").alias("n_major"),
        F.expr(
            "CAST((1000000 * major_n) DIV total AS BIGINT)"
        ).alias("purity_ppm"),
        (F.col("total") - F.col("major_n"))
        .cast("long")
        .alias("n_off_major"),
    )


# --- type-token ratio controlled by document length ---------------------------------------


@register(
    "ttr_by_length_bucket",
    oracle=f"""
    , d AS (
        SELECT len(toks) AS n_tok,
               len(list_distinct(toks)) AS n_types
        FROM (SELECT {duck_tokens()} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    b AS (
        SELECT length(bin(n_tok + 1)) - 1 AS log2_bucket,
               n_tok, n_types
        FROM d
    )
    SELECT log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST((10000 * sum(n_types)) // sum(n_tok) AS BIGINT)
               AS pooled_ttr_e4,
           CAST(sum((10000 * n_types) // n_tok) // count(*) AS BIGINT)
               AS mean_doc_ttr_e4
    FROM b GROUP BY log2_bucket
    """,
    doc="Type-token ratio with the length confound controlled: TTR "
    "falls mechanically as documents grow (Heaps), so raw corpus "
    "TTR comparisons mislead — this reports pooled and per-doc mean "
    "TTR within power-of-two length buckets, where same-bucket "
    "comparisons are fair.  A bucket whose TTR sits far below its "
    "neighbours is repetitive/template text the repetition_filter "
    "should be catching.  Exact integer fixed-point (per-doc ratios "
    "integer-divided before the mean, identically on both engines); "
    "one scan, one small agg.",
    tags=("text",),
)
def ttr_by_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    d = docs.select(
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ).filter(F.col("n_tok") > 0)
    b = d.select(
        (F.length(F.bin(F.col("n_tok") + 1)) - 1).alias("log2_bucket"),
        "n_tok",
        "n_types",
    )
    return b.groupBy("log2_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((10000 * sum(n_types)) DIV sum(n_tok) AS BIGINT)"
        ).alias("pooled_ttr_e4"),
        F.expr(
            "CAST(sum((10000 * n_types) DIV n_tok) DIV count(*)"
            " AS BIGINT)"
        ).alias("mean_doc_ttr_e4"),
    ).select(
        F.col("log2_bucket").cast("long").alias("log2_bucket"),
        "n_docs",
        "n_tokens",
        "pooled_ttr_e4",
        "mean_doc_ttr_e4",
    )


# --- single-token dominance (near-zero-information docs) ------------------------------------


@register(
    "token_dominance_by_source",
    oracle=f"""
    , tf AS (
        SELECT doc_id, source, tok, count(*) AS c
        FROM (SELECT doc_id, source, unnest({duck_tokens()}) AS tok
              FROM documents)
        GROUP BY doc_id, source, tok
    ),
    per_doc AS (
        SELECT doc_id, source,
               max(c) AS top_c,
               sum(c) AS n_tok
        FROM tf GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN 10 * top_c > 3 * n_tok
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dominated,
           CAST((1000000 * sum(CASE WHEN 10 * top_c > 3 * n_tok
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS dominated_ppm,
           CAST((10000 * sum(top_c)) // sum(n_tok) AS BIGINT)
               AS mean_top_share_e4
    FROM per_doc GROUP BY source
    """,
    doc="Near-zero-information documents: per source, the share of "
    "docs whose single most frequent token exceeds 30 % of all "
    "occurrences (the 10·top > 3·n integer form — no ratio "
    "rounding) — spam keyword stuffing, log dumps and broken "
    "extractors all present this way, and a per-doc repeated-"
    "phrase filter (repetition_filter) misses the single-token "
    "case.  One (doc, token) agg then a doc-grain max/sum; exact "
    "integers.",
    tags=("text", "dq"),
)
def token_dominance_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    tf = (
        docs.select(
            "doc_id", "source", F.explode(tokens("text")).alias("tok")
        )
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tf.groupBy("doc_id", "source").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_tok")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(10 * F.col("top_c") > 3 * F.col("n_tok"), 1)
            .otherwise(0)
        ).cast("long").alias("n_dominated"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN 10 * top_c > 3 * n_tok"
            " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("dominated_ppm"),
        F.expr(
            "CAST((10000 * sum(top_c)) DIV sum(n_tok) AS BIGINT)"
        ).alias("mean_top_share_e4"),
    )


# --- cross-language marker mixing rate ----------------------------------------------------------


@register(
    "marker_code_mixing_rate",
    oracle=f"""
    , lab AS (
        SELECT lang,
               CASE WHEN {_duck_marker_count(LANG_MARKERS["en"])} > 0
                    THEN 1 ELSE 0 END AS has_en,
               CASE WHEN {_duck_marker_count(LANG_MARKERS["de"])} > 0
                    THEN 1 ELSE 0 END AS has_de,
               CASE WHEN {_duck_marker_count(LANG_MARKERS["es"])} > 0
                    THEN 1 ELSE 0 END AS has_es,
               CASE WHEN {_duck_marker_count(LANG_MARKERS["fr"])} > 0
                    THEN 1 ELSE 0 END AS has_fr
        FROM (SELECT lang, {duck_tokens()} AS toks FROM documents)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(has_en) AS BIGINT) AS n_with_en,
           CAST(sum(has_de) AS BIGINT) AS n_with_de,
           CAST(sum(has_es) AS BIGINT) AS n_with_es,
           CAST(sum(has_fr) AS BIGINT) AS n_with_fr,
           CAST((1000000 * sum(has_en + has_de + has_es + has_fr
                               - CASE lang WHEN 'en' THEN has_en
                                           WHEN 'de' THEN has_de
                                           WHEN 'es' THEN has_es
                                           WHEN 'fr' THEN has_fr
                                           ELSE 0 END))
                // (count(*) * 3) AS BIGINT) AS mixing_ppm
    FROM lab GROUP BY lang
    """,
    doc="Code-mixing / contamination screen: per gold language, the "
    "share of documents containing marker words of OTHER languages "
    "(own-language markers excluded from the numerator; normalized "
    "by the 3 foreign marker sets) — high mixing for a language "
    "both explains langid confusion (langid_confusion_matrix) and "
    "flags genuinely multilingual docs that a one-label-per-doc "
    "schema misrepresents.  Marker counting is the langid "
    "machinery itself; one scan, one agg, exact integers.",
    tags=("text", "langid"),
)
def marker_code_mixing_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    lab = docs.select(
        "lang",
        F.when(count_in_list(toks, LANG_MARKERS["en"]) > 0, 1)
        .otherwise(0)
        .alias("has_en"),
        F.when(count_in_list(toks, LANG_MARKERS["de"]) > 0, 1)
        .otherwise(0)
        .alias("has_de"),
        F.when(count_in_list(toks, LANG_MARKERS["es"]) > 0, 1)
        .otherwise(0)
        .alias("has_es"),
        F.when(count_in_list(toks, LANG_MARKERS["fr"]) > 0, 1)
        .otherwise(0)
        .alias("has_fr"),
    )
    return lab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("has_en").cast("long").alias("n_with_en"),
        F.sum("has_de").cast("long").alias("n_with_de"),
        F.sum("has_es").cast("long").alias("n_with_es"),
        F.sum("has_fr").cast("long").alias("n_with_fr"),
        F.expr(
            "CAST((1000000 * sum(has_en + has_de + has_es + has_fr"
            " - CASE lang WHEN 'en' THEN has_en"
            " WHEN 'de' THEN has_de WHEN 'es' THEN has_es"
            " WHEN 'fr' THEN has_fr ELSE 0 END))"
            " DIV (count(*) * 3) AS BIGINT)"
        ).alias("mixing_ppm"),
    )


# --- quality-gate pass rate by length bucket (gate bias audit) ---------------------------------


@register(
    "quality_pass_by_length_bucket",
    oracle=f"""
    , lab AS (
        SELECT length(bin(len(toks) + 1)) - 1 AS log2_bucket,
               CASE WHEN len(toks) >= 20
                         AND CAST(length(text) AS DOUBLE)
                             / greatest(len(toks), 1) BETWEEN 3 AND 12
                         AND CAST(len(list_filter(toks, x -> x IN
                              ({", ".join(repr(w) for w in STOPWORDS)})))
                              AS DOUBLE) / greatest(len(toks), 1) >= 0.01
                    THEN 1 ELSE 0 END AS passed,
               len(toks) AS n_tok
        FROM (SELECT text, {duck_tokens()} AS toks FROM documents)
    )
    SELECT log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(passed) AS BIGINT) AS n_passed,
           CAST((1000000 * sum(passed)) // count(*) AS BIGINT)
               AS pass_ppm,
           CAST(sum(passed * n_tok) AS BIGINT) AS tokens_passed
    FROM lab GROUP BY log2_bucket
    """,
    doc="Is the quality gate secretly a length filter?  Pass rate of "
    "the C4/Gopher gate per power-of-two length bucket — if pass_ppm "
    "climbs monotonically with length beyond the explicit ≥20-token "
    "floor, the ratio conditions are length-confounded and the "
    "'quality-filtered' corpus is silently longer-document-biased "
    "(which interacts with token_mass_by_doclen_bucket's long-"
    "context budget).  Exact integers; one scan, one ~20-group agg.",
    tags=("text", "dq"),
)
def quality_pass_by_length_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    cpt = F.length("text").cast("double") / F.greatest(n_toks, F.lit(1))
    lab = docs.select(
        (F.length(F.bin(n_toks + 1)) - 1).alias("log2_bucket"),
        F.when(
            (n_toks >= 20)
            & (cpt >= 3)
            & (cpt <= 12)
            & (sw_ratio >= 0.01),
            1,
        )
        .otherwise(0)
        .alias("passed"),
        n_toks.alias("n_tok"),
    )
    return lab.groupBy("log2_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("passed").cast("long").alias("n_passed"),
        F.expr(
            "CAST((1000000 * sum(passed)) DIV count(*) AS BIGINT)"
        ).alias("pass_ppm"),
        F.sum(F.col("passed") * F.col("n_tok"))
        .cast("long")
        .alias("tokens_passed"),
    ).select(
        F.col("log2_bucket").cast("long").alias("log2_bucket"),
        "n_docs",
        "n_passed",
        "pass_ppm",
        "tokens_passed",
    )


# --- source interleaving runs test over ingestion order ------------------------------------------


@register(
    "source_interleave_runs_test",
    oracle="""
    , seq AS (
        SELECT source,
               CASE WHEN lag(source) OVER (ORDER BY doc_id)
                         IS DISTINCT FROM source
                    THEN 1 ELSE 0 END AS is_run_start
        FROM documents
    ),
    runs AS (SELECT sum(is_run_start) AS r FROM seq),
    comp AS (
        SELECT sum(CAST(n AS HUGEINT) * n) AS s2, sum(n) AS n
        FROM (SELECT source, count(*) AS n
              FROM documents GROUP BY source)
    )
    SELECT CAST(c.n AS BIGINT) AS n_docs,
           CAST(r.r AS BIGINT) AS n_runs,
           CAST((1000000 * (CAST(c.n AS HUGEINT) * c.n - c.s2))
                // (CAST(c.n AS HUGEINT) * c.n) + 1000000 // c.n
               AS BIGINT) AS expected_runs_per_doc_ppm,
           CAST((1000000 * r.r) // c.n AS BIGINT)
               AS actual_runs_per_doc_ppm
    FROM runs r CROSS JOIN comp c
    """,
    doc="Is the corpus physically interleaved or block-loaded?  "
    "Multi-category Wald-Wolfowitz: the observed number of "
    "same-source runs in doc_id order vs the random-arrangement "
    "expectation E[R]/n = (1 - Σpᵢ²) + 1/n, both in exact ppm "
    "(HUGEINT cross-multiplication — Σpᵢ² never becomes a float).  "
    "Far fewer runs than expected = sources loaded in contiguous "
    "blocks, which makes ANY prefix/range sample source-biased and "
    "explains dedup_survivor_source_bias's keep-min skew.  One "
    "ordered lag over doc_id, one per-source agg.",
    tags=("text", "mixing", "dq"),
)
def source_interleave_runs_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the oracle's `lag(source) IS DISTINCT FROM source` as one global
    # lag and a null-safe comparison: lag's NULL for "no predecessor"
    # and for "predecessor's source is NULL" is the same on both sides
    prev = F.lag("source").over(W.orderBy("doc_id"))
    runs = docs.select(
        F.when(prev.eqNullSafe(F.col("source")), 0)
        .otherwise(1)
        .alias("is_run_start")
    ).agg(F.sum("is_run_start").alias("r"))
    comp = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.col("n").cast("decimal(38,0)") * F.col("n")
            ).alias("s2"),
            F.sum("n").alias("n"),
        )
    )
    return runs.crossJoin(comp).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_runs"),
        F.expr(
            "CAST((1000000 * (CAST(n AS DECIMAL(38,0)) * n - s2))"
            " DIV (CAST(n AS DECIMAL(38,0)) * n) + 1000000 DIV n"
            " AS BIGINT)"
        ).alias("expected_runs_per_doc_ppm"),
        F.expr(
            "CAST((1000000 * r) DIV n AS BIGINT)"
        ).alias("actual_runs_per_doc_ppm"),
    )


# --- language mix across ingestion deciles ----------------------------------------------------


@register(
    "lang_mix_by_ingestion_decile",
    oracle="""
    , rk AS (
        SELECT lang,
               row_number() OVER (ORDER BY doc_id) AS rn,
               count(*) OVER () AS n
        FROM documents
    ),
    d AS (
        SELECT ((rn - 1) * 10) // n + 1 AS decile, lang FROM rk
    ),
    per AS (
        SELECT decile, lang, count(*) AS c FROM d
        GROUP BY decile, lang
    ),
    tot AS (SELECT decile, sum(c) AS t FROM per GROUP BY decile)
    SELECT p.decile, p.lang,
           CAST(p.c AS BIGINT) AS n_docs,
           CAST((1000000 * p.c) // t.t AS BIGINT) AS share_ppm
    FROM per p JOIN tot t USING (decile)
    """,
    doc="Language mix drift across ingestion order: per doc_id decile, "
    "each language's share — a multilingual pipeline whose later "
    "deciles skew toward one language will train differently under "
    "sequential data loading than the corpus-level mix suggests "
    "(the language cut of source_interleave_runs_test's layout "
    "finding, and the drift curve corpus_snapshot_diff summarizes "
    "at two points).  One global rank, one agg; exact integers.",
    tags=("text", "mixing", "drift"),
)
def lang_mix_by_ingestion_decile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # global doc_id rank + a broadcast scalar count
    rk = docs.select(
        "lang",
        F.row_number().over(W.orderBy("doc_id")).cast("long").alias("rn"),
    ).crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("n"))))
    d = rk.select(
        F.expr("((rn - 1) * 10) DIV n + 1").alias("decile"), "lang"
    )
    per = d.groupBy("decile", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = per.groupBy("decile").agg(F.sum("c").alias("t"))
    return per.join(F.broadcast(tot), "decile").select(
        "decile",
        "lang",
        F.col("c").cast("long").alias("n_docs"),
        F.expr("CAST((1000000 * c) DIV t AS BIGINT)").alias(
            "share_ppm"
        ),
    )


# --- document length percentiles per source ----------------------------------------------------


@register(
    "doclen_percentiles_by_source",
    oracle=f"""
    , d AS (
        SELECT source, doc_id,
               CAST(len({duck_tokens()}) AS BIGINT) AS n_tok
        FROM documents
    ),
    r AS (
        SELECT source, n_tok,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_tok, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM d
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_tok END)
               AS BIGINT) AS p50_tokens,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tok END)
               AS BIGINT) AS p90_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM r GROUP BY source
    """,
    doc="Document length profile per source: exact nearest-rank "
    "P50/P90/max token counts and total mass — the per-source cut "
    "of token_mass_by_doclen_bucket, and the first thing to check "
    "when one source's documents are suspiciously uniform "
    "(truncation at an extractor limit shows as P90 == max).  "
    "Source-partitioned rank with (length, doc_id) total order; "
    "exact integers.",
    tags=("text",),
)
def doclen_percentiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    wr = W.partitionBy("source").orderBy("n_tok", "doc_id")
    wn = W.partitionBy("source")
    r = d.select(
        "source",
        "n_tok",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max(
            F.when(F.expr("rn = (n + 1) DIV 2"), F.col("n_tok"))
        ).cast("long").alias("p50_tokens"),
        F.max(
            F.when(F.expr("rn = (9 * n + 9) DIV 10"), F.col("n_tok"))
        ).cast("long").alias("p90_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


# --- marginal relaxation analysis of the quality gate ------------------------------------------


@register(
    "quality_gate_marginal_relaxation",
    oracle=f"""
    , lab AS (
        SELECT CASE WHEN n_toks >= 20 THEN 1 ELSE 0 END AS ok_len,
               CASE WHEN cpt >= 3 AND cpt <= 12 THEN 1 ELSE 0 END
                   AS ok_cpt,
               CASE WHEN sw_ratio >= 0.01 THEN 1 ELSE 0 END AS ok_sw
        FROM (
            SELECT len(toks) AS n_toks,
                   CAST(len(list_filter(toks, x -> x IN
                        ({", ".join(repr(w) for w in STOPWORDS)})))
                        AS DOUBLE) / greatest(len(toks), 1) AS sw_ratio,
                   CAST(length(text) AS DOUBLE)
                       / greatest(len(toks), 1) AS cpt
            FROM (SELECT text, {duck_tokens()} AS toks FROM documents)
        )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ok_len * ok_cpt * ok_sw) AS BIGINT) AS n_pass,
           CAST(sum((1 - ok_len) * ok_cpt * ok_sw) AS BIGINT)
               AS gain_drop_len,
           CAST(sum(ok_len * (1 - ok_cpt) * ok_sw) AS BIGINT)
               AS gain_drop_cpt,
           CAST(sum(ok_len * ok_cpt * (1 - ok_sw)) AS BIGINT)
               AS gain_drop_sw,
           CAST(sum(CASE WHEN ok_len + ok_cpt + ok_sw <= 1
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_fail
    FROM lab
    """,
    doc="What would relaxing each quality condition buy?  For the "
    "three gate conditions (length, chars-per-token, stopword "
    "density): the count of documents failing ONLY that condition — "
    "the exact marginal yield of dropping it — plus the multi-fail "
    "mass no single relaxation recovers.  This is the "
    "cost-of-strictness table that turns quality_fail_reason_"
    "breakdown's raw counts into a decision (a condition whose "
    "exclusive-fail count is near zero is free to keep).  One scan, "
    "one fold; the condition expressions are the gate's own.",
    tags=("text", "dq"),
)
def quality_gate_marginal_relaxation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    sw_ratio = count_in_list(toks, STOPWORDS).cast("double") / F.greatest(
        n_toks, F.lit(1)
    )
    cpt = F.length("text").cast("double") / F.greatest(n_toks, F.lit(1))
    lab = docs.select(
        F.when(n_toks >= 20, 1).otherwise(0).alias("ok_len"),
        F.when((cpt >= 3) & (cpt <= 12), 1).otherwise(0).alias(
            "ok_cpt"
        ),
        F.when(sw_ratio >= 0.01, 1).otherwise(0).alias("ok_sw"),
    )
    return lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.col("ok_len") * F.col("ok_cpt") * F.col("ok_sw")
        ).cast("long").alias("n_pass"),
        F.sum(
            (1 - F.col("ok_len")) * F.col("ok_cpt") * F.col("ok_sw")
        ).cast("long").alias("gain_drop_len"),
        F.sum(
            F.col("ok_len") * (1 - F.col("ok_cpt")) * F.col("ok_sw")
        ).cast("long").alias("gain_drop_cpt"),
        F.sum(
            F.col("ok_len") * F.col("ok_cpt") * (1 - F.col("ok_sw"))
        ).cast("long").alias("gain_drop_sw"),
        F.sum(
            F.when(
                F.col("ok_len") + F.col("ok_cpt") + F.col("ok_sw") <= 1,
                1,
            ).otherwise(0)
        ).cast("long").alias("n_multi_fail"),
    )


# --- distinct-stopword presence profile ----------------------------------------------------------


@register(
    "stopword_presence_profile",
    oracle=f"""
    , d AS (
        SELECT source,
               len(list_distinct(list_filter(toks, x -> x IN
                   ({", ".join(repr(w) for w in STOPWORDS)}))))
                   AS n_distinct_sw
        FROM (SELECT source, {duck_tokens()} AS toks FROM documents)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_distinct_sw >= 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_gopher_pass,
           CAST((1000000 * sum(CASE WHEN n_distinct_sw >= 2
                                    THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS gopher_pass_ppm,
           CAST((10000 * sum(n_distinct_sw)) // count(*) AS BIGINT)
               AS mean_distinct_sw_e4
    FROM d GROUP BY source
    """,
    doc="The Gopher stopword rule, measured: per source, how many "
    "documents contain at least 2 DISTINCT stopwords (the published "
    "Gopher heuristic — a different axis than the stopword RATIO "
    "the current gate uses) and the mean distinct-stopword count — "
    "quantifies what switching the gate's stopword condition from "
    "ratio to presence would keep or drop, per source.  Pure "
    "expression pipeline, one agg.",
    tags=("text", "dq"),
)
def stopword_presence_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    lit_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_distinct_sw = F.size(
        F.array_distinct(
            F.filter(toks, lambda x: F.array_contains(lit_arr, x))
        )
    )
    d = docs.select(
        "source", n_distinct_sw.alias("n_distinct_sw")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_distinct_sw") >= 2, 1).otherwise(0)
        ).cast("long").alias("n_gopher_pass"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN n_distinct_sw >= 2"
            " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("gopher_pass_ppm"),
        F.expr(
            "CAST((10000 * sum(n_distinct_sw)) DIV count(*)"
            " AS BIGINT)"
        ).alias("mean_distinct_sw_e4"),
    )


# --- UTF-8 byte overhead per language -----------------------------------------------------------------


@register(
    "utf8_byte_overhead_by_lang",
    oracle="""
    , d AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                   AS n_bytes
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
           CAST((10000 * sum(n_bytes)) // sum(n_chars) AS BIGINT)
               AS bytes_per_char_e4,
           CAST(sum(CASE WHEN n_bytes > n_chars THEN 1 ELSE 0 END)
               AS BIGINT) AS n_multibyte_docs
    FROM d GROUP BY lang
    """,
    doc="Storage and tokenizer-cost geometry per language: UTF-8 "
    "bytes per character (ASCII languages sit at 1.0000, CJK at "
    "~3.0) and the count of documents containing any multibyte "
    "character — the factor that converts every byte-budget "
    "(storage_tier_advisor, index_memory_budget) into character "
    "and token budgets per language, and a cheap mojibake screen "
    "(an 'en' corpus with bytes-per-char 1.5 is double-encoded). "
    " octet_length vs length on both engines; exact integers.",
    tags=("text", "ops"),
)
def utf8_byte_overhead_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        F.expr(
            "CAST((10000 * sum(n_bytes)) DIV sum(n_chars) AS BIGINT)"
        ).alias("bytes_per_char_e4"),
        F.sum(
            F.when(F.col("n_bytes") > F.col("n_chars"), 1).otherwise(0)
        ).cast("long").alias("n_multibyte_docs"),
    )
