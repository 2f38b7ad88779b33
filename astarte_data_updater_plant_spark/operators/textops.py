"""Text-analysis operators over the documents table.

The LLM-training-pipeline surface: token counting, quality scoring,
language ID, scalar string/JSON functions, introspection-string
parsing (the one real string protocol in the reference,
``payloads_decoder.ex:164-222``), and winnowing-style document
fingerprints (rolling hash + windowed min).

Scale design: all per-document features are higher-order-function
column expressions — zero shuffles, zero Python, linear scans that
survive a 100x corpus. Only the final presentation ORDER BY sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    distinct_tokens,
    n_tokens,
    shingles_from_tokens,
    stopword_count,
    tokens,
)
from ..plans.registry import register
from ..sources.tables import load_table, local_rows

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "q30_token_stats",
    f"""
    SELECT
      doc_id,
      lang,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS n_stopwords,
      n_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting (whitespace tokenizer) + distinct-token and "
    "stopword counts, all as codegen'd higher-order functions.",
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        n_tokens(t).alias("n_tokens"),
        F.size(distinct_tokens(t)).cast("long").alias("n_distinct_tokens"),
        stopword_count(t).alias("n_stopwords"),
        "n_chars",
    ).orderBy("doc_id")


@register(
    "q31_quality_score",
    f"""
    WITH feat AS (
      SELECT
        doc_id,
        n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        len(list_filter(string_split(text, ' '), x -> x IN ({_STOP_SQL}))) AS n_stopwords
      FROM documents
    )
    SELECT
      doc_id,
      n_tokens,
      CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS ttr,
      CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
      CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
      CASE
        WHEN n_tokens >= 20
         AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens >= 0.3
         AND CAST(n_stopwords AS DOUBLE) / n_tokens <= 0.5
        THEN 'keep' ELSE 'drop'
      END AS verdict
    FROM feat
    ORDER BY doc_id
    """,
    doc="Quality scoring: type-token ratio, stopword ratio, average token "
    "length, and a keep/drop verdict — the standard pretraining-corpus "
    "filter shape. Ratios are int/int divisions, hash-stable.",
)
def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    feat = docs.select(
        "doc_id",
        "n_chars",
        n_tokens(t).alias("n_tokens"),
        F.size(distinct_tokens(t)).cast("long").alias("n_distinct_tokens"),
        stopword_count(t).alias("n_stopwords"),
    )
    ttr = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_tokens")
    return feat.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        F.when(
            (F.col("n_tokens") >= 20) & (ttr >= 0.3) & (stop_ratio <= 0.5),
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    ).orderBy("doc_id")


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    words = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({words})))"


_LANG_ORDER = ("en", "es", "fr", "de", "zh")
_SCORE_COLS = {lang: f"score_{lang}" for lang in _LANG_ORDER}


def _argmax_case_sql() -> str:
    # first language (in fixed order) achieving the max score
    clauses = " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in _LANG_ORDER
    )
    return f"CASE {clauses} END"


@register(
    "q32_language_id",
    f"""
    WITH scored AS (
      SELECT
        doc_id,
        lang AS labeled_lang,
        {", ".join(f"{_lang_score_sql(LANG_MARKERS[lang])} AS score_{lang}" for lang in _LANG_ORDER)}
      FROM documents
    ), best AS (
      SELECT *, GREATEST(score_en, score_es, score_fr, score_de, score_zh) AS best
      FROM scored
    )
    SELECT doc_id, labeled_lang, {_argmax_case_sql()} AS pred_lang,
           score_en, score_es, score_fr, score_de, score_zh
    FROM best
    ORDER BY doc_id
    """,
    doc="Language ID by marker-word scoring with a deterministic argmax "
    "(fixed language order breaks ties) — the n-gram-heuristic shape.",
)
def q32_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.size(F.filter(tokens(t), lambda x: x.isin(*LANG_MARKERS[lang]))).cast("long").alias(
                f"score_{lang}"
            )
            for lang in _LANG_ORDER
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    pred = F.when(F.col("score_en") == best, F.lit("en"))
    for lang in _LANG_ORDER[1:]:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        *[f"score_{lang}" for lang in _LANG_ORDER],
    ).orderBy("doc_id")


@register(
    "q33_fingerprints",
    """
    WITH sh AS (
      SELECT doc_id,
        list_transform(
          range(1, greatest(len(string_split(text,' ')) - 1, 1)),
          i -> md5(string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])
        ) AS hashes
      FROM documents
    ), winnowed AS (
      SELECT doc_id,
        list_distinct(
          list_transform(
            range(1, greatest(len(hashes) - 3, 1) + 1),
            i -> list_min(hashes[i:i+3])
          )
        ) AS fps
      FROM sh
    )
    SELECT doc_id, len(fps) AS n_fingerprints, list_min(fps) AS min_fingerprint
    FROM winnowed
    ORDER BY doc_id
    """,
    doc="Winnowing document fingerprints: rolling md5 over 3-word shingles, "
    "min over each 4-shingle window, distinct set per doc. Pure "
    "higher-order-function pipeline (no shuffle, no UDF).",
)
def q33_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # two-step projection: tokens materialized once, then shingle-hashed
    docs = docs.select("doc_id", F.split("text", " ").alias("toks"))
    hashes = F.transform(shingles_from_tokens(F.col("toks"), 3), lambda s: F.md5(s))
    docs = docs.select("doc_id", hashes.alias("hashes"))
    n = F.size(F.col("hashes"))
    idx = F.sequence(F.lit(1), F.greatest(n - 3, F.lit(1)))
    fps = F.array_distinct(
        F.transform(idx, lambda i: F.array_min(F.slice(F.col("hashes"), i, 4)))
    )
    return docs.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.array_min(fps).alias("min_fingerprint"),
    ).orderBy("doc_id")


@register(
    "q34_scalar_functions",
    """
    SELECT
      event_id,
      upper(event_type) AS event_type_upper,
      '/device/' || CAST(user_id AS VARCHAR) || '/' || event_type AS path,
      split_part('/device/' || CAST(user_id AS VARCHAR) || '/' || event_type, '/', 3) AS path_seg2,
      CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
      to_base64(CAST(event_type AS BLOB)) AS event_type_b64,
      len(event_type) AS name_len,
      CASE WHEN contains(event_type, 'c') THEN TRUE ELSE FALSE END AS has_c,
      year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h
    FROM events
    ORDER BY event_id
    """,
    doc="Scalar-function surface (SURVEY §2B): string concat/split/case, "
    "JSON extraction (the events.props payload <-> BSON decode analog, "
    "payloads_decoder.ex:29-62), base64 (device-id encode analog), "
    "timestamp part extraction.",
)
def q34_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    path = F.concat(F.lit("/device/"), F.col("user_id").cast("string"), F.lit("/"), F.col("event_type"))
    return ev.select(
        "event_id",
        F.upper("event_type").alias("event_type_upper"),
        path.alias("path"),
        F.split_part(path, F.lit("/"), F.lit(3)).alias("path_seg2"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.base64(F.col("event_type").cast("binary")).alias("event_type_b64"),
        F.length("event_type").cast("long").alias("name_len"),
        F.col("event_type").contains("c").alias("has_c"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
    ).orderBy("event_id")


@register(
    "q35_introspection_parse",
    """
    WITH intro AS (
      SELECT user_id,
             string_agg(DISTINCT event_type || ':1:0', ';' ORDER BY event_type || ':1:0') AS introspection
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           split_part(entry, ':', 1) AS interface_name,
           CAST(split_part(entry, ':', 2) AS INT) AS major,
           CAST(split_part(entry, ':', 3) AS INT) AS minor
    FROM (SELECT user_id, unnest(string_split(introspection, ';')) AS entry FROM intro) t
    ORDER BY user_id, interface_name
    """,
    doc="Introspection string protocol (payloads_decoder.ex:164-222): "
    "build 'name:major:minor;...' per device, then parse it back with "
    "split/explode/split_part — the reference's parser as column exprs.",
)
def q35_introspection_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    intro = (
        ev.select("user_id", F.concat(F.col("event_type"), F.lit(":1:0")).alias("entry"))
        .groupBy("user_id")
        .agg(F.concat_ws(";", F.sort_array(F.collect_set("entry"))).alias("introspection"))
    )
    parsed = intro.select(
        "user_id", F.explode(F.split("introspection", ";")).alias("entry")
    )
    return parsed.select(
        "user_id",
        F.split_part(F.col("entry"), F.lit(":"), F.lit(1)).alias("interface_name"),
        F.split_part(F.col("entry"), F.lit(":"), F.lit(2)).cast("int").alias("major"),
        F.split_part(F.col("entry"), F.lit(":"), F.lit(3)).cast("int").alias("minor"),
    ).orderBy("user_id", "interface_name")


#: BPE-ish token estimation: a GPT-2-style pre-tokenizer regex (runs of
#: letters / digits / other-symbols) plus the chars/4 subword estimate.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "q36_bpe_token_estimate",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_regex_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_runs
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting, BPE-ish: regex pre-tokenizer run count "
    "(letters/digits/symbol runs, the GPT-2 pre-tokenizer shape) and "
    "the standard chars/4 subword estimate — both as codegen'd "
    "expressions, zero Python in the scan.",
)
def q36_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).cast("long").alias("n_regex_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("est_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).cast("long").alias("n_number_runs"),
    ).orderBy("doc_id")


@register(
    "q37_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS rn FROM scored
    ) t
    WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
    doc="TF-IDF top-3 terms per document: explode -> (doc, term) "
    "partial+final count -> document frequency as a COUNT() OVER "
    "(PARTITION BY term) window on the tf rows (one row per (doc, "
    "term), so the window count IS the df) instead of a "
    "groupBy-then-self-join, which would re-compute the whole explode "
    "subtree a second time -> windowed top-k per doc. The corpus size "
    "joins in as a broadcast scalar, never a driver-side collect. "
    "Ranking ties break on the term so both engines pick the same "
    "top-3.",
)
def q37_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ndf = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    wterm = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wterm))
        .crossJoin(F.broadcast(ndf))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


_HEXD = "0123456789abcdef"


def _md5_nib_sql(expr: str, i: int) -> str:
    """Value of hex nibble i (0-based) of md5 hex string ``expr``."""
    return f"CAST(strpos('{_HEXD}', substr({expr}, {i + 1}, 1)) - 1 AS BIGINT)"


_SPLIT_V_SQL = " + ".join(
    f"{_md5_nib_sql('hx', i)} * {16 ** (7 - i)}" for i in range(8)
)


@register(
    "q74_hash_split",
    f"""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    b AS (
      SELECT doc_id, ({_SPLIT_V_SQL}) % 10 AS bucket FROM h
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'validation'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """,
    doc="Deterministic train/validation/test assignment: md5 of the "
    "stable document id -> first 32 bits -> mod 10 -> 80/10/10 split. "
    "Hash-of-id (never rand()) is the only split that survives "
    "re-runs, re-partitions and incremental corpus growth — the same "
    "doc always lands in the same split on any cluster layout, so "
    "no training example ever leaks across the boundary between "
    "pipeline runs. Pure per-row projection: zero shuffles, "
    "whole-stage-codegen'd, embarrassingly parallel at 100 TB.",
)
def q74_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint") % 10
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < 8, F.lit("train"))
            .when(F.col("bucket") == 8, F.lit("validation"))
            .otherwise(F.lit("test")),
        )
        .orderBy("doc_id")
    )


STRATUM_SAMPLE_K = 5


@register(
    "q77_stratified_sample",
    f"""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= {STRATUM_SAMPLE_K}
    ORDER BY lang, sample_rank
    """,
    doc="Deterministic stratified sampling: exactly K documents per "
    "language stratum, chosen by ranking on md5(doc_id) — a "
    "reproducible pseudo-random order that is identical on any "
    "cluster, any partitioning, any re-run (rand() is none of "
    "those). One shuffle on the stratum key; the rank-and-filter is "
    "the same top-k-per-group shape as q15, so skewed strata cost "
    "one partition's sort, never a global one. The eval-set / "
    "human-review sampling primitive of a corpus pipeline.",
)
def q77_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("sample_rank"))
        .filter(F.col("sample_rank") <= STRATUM_SAMPLE_K)
        .orderBy("lang", "sample_rank")
    )


@register(
    "q83_array_functions",
    """
    SELECT doc_id,
           list_sort(list_distinct(string_split(text, ' ')))[1:3] AS first_terms,
           list_reverse(string_split(text, ' '))[1:3] AS last_tokens_rev,
           len(list_filter(string_split(text, ' '), x -> len(x) > 4)) AS n_long_tokens,
           list_reduce(list_transform(string_split(text, ' '), x -> len(x)),
                       (a, b) -> a + b) AS total_chars,
           CAST(list_contains(string_split(text, ' '), 'the') AS BOOLEAN) AS has_the
    FROM documents
    ORDER BY doc_id
    """,
    doc="The array higher-order-function surface in one declared "
    "query: sort / distinct / slice / reverse / filter / transform / "
    "aggregate(reduce) / contains over the token array — every one a "
    "codegen'd JVM expression on an unexploded array column, zero "
    "shuffles, zero Python. This is the idiom the whole text layer is "
    "built on (q30-q44): per-row collection work stays inside the row "
    "instead of exploding to a 50x row stream and re-grouping.",
)
def q83_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok_lens = F.transform(toks, lambda x: F.length(x))
    return (
        docs.select(
            "doc_id",
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 3).alias("first_terms"),
            F.slice(F.reverse(toks), 1, 3).alias("last_tokens_rev"),
            F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long").alias("n_long_tokens"),
            F.aggregate(
                tok_lens, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("total_chars"),
            F.array_contains(toks, "the").alias("has_the"),
        )
        .orderBy("doc_id")
    )


@register(
    "q91_text_normalize",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS clean_text
      FROM documents
    )
    SELECT doc_id,
           clean_text,
           len(clean_text) AS n_chars_clean,
           len(string_split(clean_text, ' ')) AS n_tokens_clean
    FROM norm
    ORDER BY doc_id
    """,
    doc="Corpus normalization — the cleaning stage that precedes "
    "every dedup/tokenize pass: lowercase, strip non-alphanumerics "
    "to spaces, squeeze runs, trim. Pure regexp_replace projections "
    "(Spark replaces globally by default; the oracle states the 'g' "
    "flag), zero shuffles, and the cleaned text + token counts are "
    "byte-exact across engines so downstream hash-dedup on the "
    "normalized form is reproducible anywhere.",
)
def q91_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", clean.alias("clean_text"))
        .select(
            "doc_id",
            "clean_text",
            F.length("clean_text").cast("long").alias("n_chars_clean"),
            F.size(F.split("clean_text", " ")).cast("long").alias("n_tokens_clean"),
        )
        .orderBy("doc_id")
    )


@register(
    "q95_repetition_filter",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), words AS (
      SELECT doc_id, unnest(w) AS word FROM d
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word
    ), topw AS (
      SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS n_words
      FROM wc GROUP BY doc_id
    ), grams AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
      FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ), gstat AS (
      SELECT doc_id, COUNT(*) AS ng, COUNT(DISTINCT g) AS ndg
      FROM grams GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n_words,
           ROUND(CAST(t.mx AS DOUBLE) / t.n_words, 6) AS top_word_ratio,
           COALESCE(
             ROUND(CAST(1 AS DOUBLE) - CAST(g.ndg AS DOUBLE) / g.ng, 6),
             CAST(0 AS DOUBLE)) AS dup_3gram_ratio,
           (COALESCE(
              ROUND(CAST(1 AS DOUBLE) - CAST(g.ndg AS DOUBLE) / g.ng, 6),
              CAST(0 AS DOUBLE)) > 0.3
            OR ROUND(CAST(t.mx AS DOUBLE) / t.n_words, 6) > 0.2) AS repetitive
    FROM topw t LEFT JOIN gstat g ON t.doc_id = g.doc_id
    """,
    doc="Gopher/ccnet-style repetition quality signals per document: "
    "duplicate word-3-gram fraction and top-single-word fraction, with a "
    "repetitive flag. Entirely array-side higher-order functions — one "
    "narrow scan of documents, zero shuffles, zero explodes; the oracle "
    "computes the same statistics via unnest+group-by.",
)
def q95_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    grams = F.when(
        F.size("w") >= 3,
        F.expr(
            "transform(sequence(0, size(w) - 3), "
            "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), "
            "element_at(w, i + 3)))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    top_count = F.expr(
        "array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))"
    )
    stats = d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        grams.alias("g"),
        top_count.alias("mx"),
    ).select(
        "doc_id",
        "n_words",
        F.round(F.col("mx").cast("double") / F.col("n_words"), 6).alias("top_word_ratio"),
        F.when(
            F.size("g") > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("g")).cast("double") / F.size("g"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_ratio"),
    )
    return stats.select(
        "doc_id",
        "n_words",
        "top_word_ratio",
        "dup_3gram_ratio",
        ((F.col("dup_3gram_ratio") > 0.3) | (F.col("top_word_ratio") > 0.2)).alias(
            "repetitive"
        ),
    )


@register(
    "q103_chunk_documents",
    """
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 150 AS BIGINT) AS chunk_start,
           CAST(len(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS chunk_md5
    FROM documents,
         UNNEST(range(0, CAST(greatest(0, floor((len(text) - 1) / 150)) AS BIGINT) + 1)) AS t(i)
    ORDER BY doc_id, chunk_idx
    """,
    doc="Document chunking for RAG/pretraining: fixed 200-char windows "
    "with stride 150 (50-char overlap), one row per chunk with stable "
    "(doc_id, chunk_idx) identity, offset, length and digest. The "
    "fan-out is a sequence+explode over a single narrow scan — "
    "partition-parallel, output bounded by corpus_len/stride, no "
    "shuffle before the presentation sort. On a token-based pipeline "
    "the same shape applies with token arrays from q30/q36.",
)
def q103_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    idxs = F.expr(
        "sequence(CAST(0 AS BIGINT), "
        "CAST(greatest(0, floor((length(text) - 1) / 150)) AS BIGINT))"
    )
    chunk = F.expr("substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)")
    return (
        docs.select("doc_id", "text", F.explode(idxs).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * 150).alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


#: PII patterns, written to the RE2/Java-regex common subset so the
#: Spark plan and the DuckDB oracle compile them identically.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


@register(
    "q104_pii_redact",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com from ' ||
             '10.0.' || (doc_id % 256) || '.1' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_IPV4}', '<IP>', 'g')) AS redacted_md5
    FROM seeded
    ORDER BY doc_id
    """,
    doc="PII scrubbing for training corpora: count and redact email "
    "addresses and IPv4 literals with patterns in the RE2/Java common "
    "subset. Deterministic PII is seeded per document (both engines "
    "build the same text) so the counts and the digest of the redacted "
    "output are non-trivially verified. Pure column expressions — one "
    "narrow scan, no shuffle; the same shape extends to phone/SSN/key "
    "patterns.",
)
def q104_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Gopher-style quality rules (q109)
# ---------------------------------------------------------------------------

#: the published MassiveText/Gopher-style rule thresholds, calibrated
#: to this corpus's 10-99-word documents so every rule varies
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MEAN_WORD_LEN = 4.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_SW_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


@register(
    "q109_gopher_rules",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6)
               AS mean_word_len,
             round(CAST(len(list_filter(toks,
                     w -> regexp_full_match(w, '[a-z]+'))) AS DOUBLE)
                   / n_words, 6) AS alpha_frac,
             len(list_intersect(toks, [{_SW_SQL}])) >= 1 AS has_stopword
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, has_stopword,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AS ok_words,
           mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
             AND {GOPHER_MAX_MEAN_WORD_LEN} AS ok_word_len,
           alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS ok_alpha,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                  AND {GOPHER_MAX_MEAN_WORD_LEN})
             AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
             AND has_stopword AS keep
    FROM m
    ORDER BY doc_id
    """,
    doc="Gopher/MassiveText-style document quality rules as one rule "
    "column each plus the AND'd keep decision: word-count bounds, "
    "mean word length bounds, alphabetic-word fraction, stop-word "
    "presence (the published ruleset, thresholds calibrated so every "
    "rule varies on this corpus). All higher-order-function column "
    "expressions over one narrow scan — zero shuffles, zero Python; "
    "the deterministic keep column is the corpus-filter input the "
    "LLM-pipeline dedup/split stages consume downstream.",
)
def q109_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    mean_len = F.round(
        (F.col("n_chars") - (F.col("n_words") - 1)).cast("double") / F.col("n_words"),
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(F.col("toks"), lambda w: w.rlike("^[a-z]+$"))).cast("double")
        / F.col("n_words"),
        6,
    )
    has_sw = (
        F.size(
            F.array_intersect(
                F.col("toks"), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
            )
        )
        >= 1
    )
    m = base.select(
        "doc_id", "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        has_sw.alias("has_stopword"),
    )
    ok_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_len = F.col("mean_word_len").between(
        GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    return m.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "has_stopword",
        ok_words.alias("ok_words"),
        ok_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        (ok_words & ok_len & ok_alpha & F.col("has_stopword")).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Mojibake repair (q122)
# ---------------------------------------------------------------------------

#: classic UTF-8-read-as-latin-1 artifacts and their repairs (the
#: ftfy-style fix table, smallest useful subset) + zero-width space
_MOJIBAKE_FIXES = (
    ("Ã©", "é"),   # 'Ã©'  -> 'é'
    ("â€™", "’"),  # 'â€™' -> '’'
    ("Ã¯", "ï"),   # 'Ã¯'  -> 'ï'
    ("​", ""),               # zero-width space -> removed
)
_MOJI_ALT = "|".join(a for a, _ in _MOJIBAKE_FIXES)


@register(
    "q122_mojibake_repair",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN ' cafÃ© menu'
               WHEN 1 THEN ' donâ€™t stop'
               ELSE ' naÃ¯ve​test end'
             END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_MOJI_ALT}')) AS BIGINT)
             AS n_mojibake,
           md5(replace(replace(replace(replace(text,
                 'Ã©', 'é'),
                 'â€™', '’'),
                 'Ã¯', 'ï'),
                 '​', '')) AS repaired_md5,
           CAST(len(replace(replace(replace(replace(text,
                 'Ã©', 'é'),
                 'â€™', '’'),
                 'Ã¯', 'ï'),
                 '​', '')) AS BIGINT) AS repaired_len
    FROM seeded
    ORDER BY doc_id
    """,
    doc="Mojibake repair (ftfy-style): fix classic "
    "UTF-8-decoded-as-latin-1 artifacts ('Ã©' -> 'é', "
    "'â€™' -> '’') and strip zero-width spaces — "
    "the encoding-cleanup stage web corpora need before tokenization. "
    "Corruption is seeded deterministically per document (q104's "
    "precedent) so both engines build identical dirty text; artifact "
    "counts and the digest + length of the repaired text verify the "
    "fix table byte-exactly. Pure string-replace projections over one "
    "scan, zero shuffle; the real fix table just has more rows.",
)
def q122_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cafÃ© menu"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" donâ€™t stop"))
        .otherwise(F.lit(" naÃ¯ve​test end"))
    )
    seeded = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    repaired = F.col("text")
    for bad, good in _MOJIBAKE_FIXES:
        repaired = F.replace(repaired, F.lit(bad), F.lit(good))
    return seeded.select(
        "doc_id",
        F.regexp_count("text", F.lit(_MOJI_ALT)).cast("long").alias("n_mojibake"),
        F.md5(repaired.cast("binary")).alias("repaired_md5"),
        F.length(repaired).cast("long").alias("repaired_len"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Token co-occurrence / lift (q129)
# ---------------------------------------------------------------------------

#: document-frequency floor for co-occurrence candidates — the same
#: stop-shingle idea as q44: only tokens appearing in >= this many
#: docs participate, bounding the per-doc pair fan-out
COOC_DF_MIN = 5
COOC_TOP_K = 50


@register(
    "q129_token_cooccurrence",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    df AS (
      SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
      HAVING COUNT(*) >= {COOC_DF_MIN}
    ),
    kept AS (SELECT t.doc_id, t.tok FROM toks t JOIN df USING (tok)),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
      FROM kept a JOIN kept b
        ON b.doc_id = a.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS c_ab,
           round(CAST(n_docs.n * c_ab AS DOUBLE) / (da.df * db.df), 6)
             AS lift
    FROM pairs
    JOIN df da ON da.tok = pairs.tok_a
    JOIN df db ON db.tok = pairs.tok_b
    CROSS JOIN n_docs
    ORDER BY round(CAST(n_docs.n * c_ab AS DOUBLE) / (da.df * db.df), 6)
             DESC, tok_a, tok_b
    LIMIT {COOC_TOP_K}
    """,
    doc="Token co-occurrence with lift (P(a,b)/(P(a)P(b)) stated as "
    "the exact integer ratio N*c_ab/(df_a*df_b), log-free so the "
    "score is engine-identical) — the phrase-mining/collocation "
    "signal used to build tokenizer merge candidates and stop-phrase "
    "lists. The df floor bounds the per-doc pair fan-out exactly like "
    "q44's stop-shingle cap, so candidate generation stays O(docs x "
    "kept_tokens^2) with kept_tokens a corpus constant; counting is "
    "one keyed groupBy; the final top-k is a bounded sort.",
)
def q129_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= COOC_DF_MIN
    )
    kept = toks.join(F.broadcast(df.select("tok")), "tok")
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    a = kept.select("doc_id", F.col("tok").alias("tok_a"))
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, (F.col("doc_id") == F.col("doc_b")) & (F.col("tok_a") < F.col("tok_b")))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    da = df.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    db = df.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    lift = F.round(
        (F.col("n") * F.col("c_ab")).cast("double") / (F.col("df_a") * F.col("df_b")),
        6,
    )
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select("tok_a", "tok_b", F.col("c_ab").cast("long").alias("c_ab"), lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(COOC_TOP_K)
    )


BPE_TOP_K = 20


@register(
    "q130_bpe_merge_candidates",
    f"""
    WITH bigrams AS (
      SELECT string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
               AS pair
      FROM documents,
           UNNEST(range(1, greatest(len(string_split(text, ' ')), 1))) AS t(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM bigrams
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP_K}
    """,
    doc="One BPE training step at word granularity: count every "
    "POSITIONAL adjacent pair across the corpus (occurrences, not "
    "document frequency) and rank the merge candidates — the "
    "frequency table each merge iteration of byte-pair-encoding "
    "tokenizer training consumes. One explode + one keyed groupBy "
    "with map-side partial counts; the top-k is a bounded sort, so "
    "each merge iteration is a single linear pass at any corpus "
    "size. Deterministic rank: count desc, pair asc.",
)
def q130_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.split("text", " ").alias("toks"))
    pairs = toked.select(
        F.explode(shingles_from_tokens(F.col("toks"), 2)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(BPE_TOP_K)
    )


# ---------------------------------------------------------------------------
# q140 — BM25 ranked retrieval
# ---------------------------------------------------------------------------

#: Okapi BM25 constants (the Robertson/Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75
#: fixed query workload: (query_id, term) pairs — the retrieval shapes
#: a RAG corpus or a dedup-against-query-set pass runs at scale
BM25_QUERIES = [
    ("q_spark_join", "spark"), ("q_spark_join", "join"),
    ("q_window_agg", "window"), ("q_window_agg", "agg"),
    ("q_scan_hash", "scan"), ("q_scan_hash", "hash"), ("q_scan_hash", "table"),
]
BM25_TOPK = 10

_BM25_QUERY_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)
_BM25_TERMS = sorted({t for _, t in BM25_QUERIES})
_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)

#: the per-(doc, term) BM25 contribution — written ONCE and reused
#: verbatim on both engines so the double arithmetic is bit-identical,
#: then floored to a 1e-6 fixed-point BIGINT so the cross-term sum is
#: exact integer arithmetic (order-free) on both sides
_BM25_CONTRIB = (
    "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * ({k1} + 1.0))"
    " / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
).format(k1=BM25_K1, b=BM25_B)


@register(
    "q140_bm25_topk",
    f"""
    WITH queries(query, term) AS (VALUES {_BM25_QUERY_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
               AS avgdl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_BM25_TERM_LIST}) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT q.query, tf.doc_id,
             CAST(floor(({_BM25_CONTRIB}) * 1000000) AS BIGINT) AS c_e6
      FROM tf
      JOIN queries q USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    scored AS (
      SELECT query, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             CAST(SUM(c_e6) AS BIGINT) AS score_e6
      FROM contrib GROUP BY query, doc_id
    )
    SELECT query, doc_id, n_terms_hit, score_e6
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query ORDER BY score_e6 DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {BM25_TOPK}
    ORDER BY query, score_e6 DESC, doc_id
    """,
    doc="Okapi BM25 ranked retrieval: a fixed multi-term query "
    "workload scored against the corpus with the Robertson k1/b "
    "defaults — the retrieval primitive behind RAG indexing and "
    "query-set decontamination. The plan filters the token explode "
    "to query terms BEFORE aggregating (the scan prunes to ~7 terms' "
    "postings, not the whole vocabulary), document frequency comes "
    "from a window over the (doc, term) counts, corpus stats join as "
    "a broadcast scalar, and the per-(doc,term) contribution — "
    "computed with bit-identical double arithmetic on both engines — "
    "is floored to 1e-6 fixed point so the cross-term sum is exact "
    "integer math under ANY aggregation order. Ranking ties break on "
    "doc_id; per-query top-10 is a bounded window.",
)
def q140_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(_BM25_TERMS))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    queries = local_rows(spark, BM25_QUERIES, "query string, term string")
    contrib = (
        dfreq.join(F.broadcast(queries), "term")
        .join(dl, "doc_id")  # corpus-cardinality: keyed equi-join, never broadcast
        .crossJoin(F.broadcast(stats))
        .select(
            "query",
            "doc_id",
            F.floor(F.expr(_BM25_CONTRIB) * 1000000).cast("bigint").alias("c_e6"),
        )
    )
    scored = contrib.groupBy("query", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("c_e6").cast("long").alias("score_e6"),
    )
    w = Window.partitionBy("query").orderBy(F.col("score_e6").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOPK)
        .drop("rn")
        .orderBy("query", F.col("score_e6").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# q161 — retrieval evaluation: nDCG@10 and MRR over the BM25 run
# ---------------------------------------------------------------------------

from ..plans.registry import QUERIES as _REG


def _q161_oracle() -> str:
    q140 = _REG["q140_bm25_topk"].oracle
    n_terms_values = ", ".join(
        f"('{q}', {sum(1 for qq, _ in BM25_QUERIES if qq == q)})"
        for q in sorted({q for q, _ in BM25_QUERIES})
    )
    return f"""
    WITH retrieved AS (
      SELECT query, doc_id, n_terms_hit,
             ROW_NUMBER() OVER (PARTITION BY query
                                ORDER BY score_e6 DESC, doc_id) AS rnk
      FROM ({q140})
    ),
    qterms(query, n_terms) AS (VALUES {n_terms_values}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term FROM toks
      WHERE term IN ({_BM25_TERM_LIST}) GROUP BY doc_id, term
    ),
    rel_corpus AS (
      SELECT q.query, CAST(COUNT(*) AS BIGINT) AS n_relevant
      FROM (
        SELECT t.doc_id, qq.query, COUNT(*) AS hit
        FROM tf t JOIN (SELECT DISTINCT query, term
                        FROM (VALUES {_BM25_QUERY_VALUES}) v(query, term)) qq
          USING (term)
        GROUP BY t.doc_id, qq.query
      ) t JOIN qterms q USING (query)
      WHERE t.hit = q.n_terms
      GROUP BY q.query
    ),
    judged AS (
      SELECT r.query, r.rnk,
             CASE WHEN r.n_terms_hit = q.n_terms THEN 1 ELSE 0 END AS rel
      FROM retrieved r JOIN qterms q USING (query)
    ),
    dcg AS (
      SELECT query,
             CAST(SUM(rel * CAST(floor(1000000000.0 / (ln(rnk + 1) / ln(2))
                                       ) AS BIGINT)) AS BIGINT) AS dcg_e9,
             CAST(COUNT(*) AS BIGINT) AS n_retrieved,
             CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT)
               AS first_rel_rank
      FROM judged GROUP BY query
    ),
    idcg AS (
      SELECT rc.query,
             CAST(SUM(CAST(floor(1000000000.0 / (ln(i + 1) / ln(2)))
                           AS BIGINT)) AS BIGINT) AS idcg_e9
      FROM rel_corpus rc,
           UNNEST(range(1, {BM25_TOPK} + 1)) AS t(i)
      WHERE i <= rc.n_relevant
      GROUP BY rc.query
    )
    -- LEFT joins from the full query list: a query with zero retrieved or
    -- zero corpus-relevant docs must appear with explicit zero metrics,
    -- not vanish from the eval report (the worst-performing queries are
    -- exactly the ones an inner join would hide).
    SELECT q.query,
           CAST(COALESCE(d.n_retrieved, 0) AS BIGINT) AS n_retrieved,
           CAST(COALESCE(rc.n_relevant, 0) AS BIGINT) AS n_relevant,
           CASE WHEN COALESCE(d.first_rel_rank, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(1000000000.0 / d.first_rel_rank) AS BIGINT)
           END AS mrr_e9,
           CAST(COALESCE(d.dcg_e9, 0) AS BIGINT) AS dcg_e9,
           CAST(COALESCE(i.idcg_e9, 0) AS BIGINT) AS idcg_e9,
           CASE WHEN COALESCE(i.idcg_e9, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(d.dcg_e9, 0) AS DOUBLE) / i.idcg_e9
           END AS ndcg
    FROM qterms q
    LEFT JOIN dcg d USING (query)
    LEFT JOIN rel_corpus rc USING (query)
    LEFT JOIN idcg i USING (query)
    ORDER BY q.query
    """


@register(
    "q161_retrieval_metrics",
    _q161_oracle(),
    doc="Retrieval evaluation over the q140 BM25 run: binary "
    "relevance (a document is relevant to a query iff it contains "
    "ALL the query's terms), nDCG@10 against the ideal ranking of "
    "the TRUE corpus-wide relevant count (not just the retrieved "
    "set — retrieving 10 when 40 are relevant must cost recall), "
    "and MRR from the first relevant rank. Every 1/log2(rank+1) "
    "and 1/rank term is computed identically on both engines and "
    "floored to 1e-9 fixed point, so DCG/IDCG/MRR sums are exact "
    "integers and nDCG is one final division. The corpus-wide "
    "relevance count is one pass over the pruned postings. This is "
    "the eval loop that gates a retrieval index rebuild, expressed "
    "as two keyed aggregates over frames q140 already produces.",
)
def q161_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_terms_map = {}
    for q, _t in BM25_QUERIES:
        n_terms_map[q] = n_terms_map.get(q, 0) + 1
    qterms = local_rows(
        spark, sorted(n_terms_map.items()), "query string, n_terms int"
    )
    retrieved = q140_bm25_topk(spark, sf_dir).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query").orderBy(F.col("score_e6").desc(), "doc_id")
        ),
    )
    judged = retrieved.join(F.broadcast(qterms), "query").select(
        "query",
        "rnk",
        (F.col("n_terms_hit") == F.col("n_terms")).cast("int").alias("rel"),
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    gain = F.floor(F.lit(1000000000.0) / log2(F.col("rnk") + 1)).cast("long")
    dcg = judged.groupBy("query").agg(
        F.sum(F.col("rel") * gain).cast("long").alias("dcg_e9"),
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel_rank"),
    )
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(_BM25_TERMS))
        .distinct()
    )
    qt_pairs = local_rows(
        spark, sorted(set(BM25_QUERIES)), "query string, term string"
    )
    rel_corpus = (
        tf.join(F.broadcast(qt_pairs), "term")
        .groupBy("doc_id", "query")
        .agg(F.count(F.lit(1)).alias("hit"))
        .join(F.broadcast(qterms), "query")
        .filter(F.col("hit") == F.col("n_terms"))
        .groupBy("query")
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    ranks = spark.range(1, BM25_TOPK + 1).select(F.col("id").alias("i"))
    idcg = (
        rel_corpus.crossJoin(F.broadcast(ranks))
        .filter(F.col("i") <= F.col("n_relevant"))
        .groupBy("query")
        .agg(
            F.sum(
                F.floor(F.lit(1000000000.0) / log2(F.col("i") + 1)).cast("long")
            )
            .cast("long")
            .alias("idcg_e9")
        )
    )
    # LEFT joins from the full query list (mirrors the oracle): zero-recall
    # or zero-retrieval queries appear with explicit zero metrics instead of
    # silently dropping out of the eval report.
    return (
        qterms.select("query")
        .join(F.broadcast(dcg), "query", "left")
        .join(F.broadcast(rel_corpus), "query", "left")
        .join(F.broadcast(idcg), "query", "left")
        .select(
            "query",
            F.coalesce(F.col("n_retrieved"), F.lit(0))
            .cast("long")
            .alias("n_retrieved"),
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            F.when(
                F.coalesce(F.col("first_rel_rank"), F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(
                F.floor(F.lit(1000000000.0) / F.col("first_rel_rank"))
            )
            .cast("long")
            .alias("mrr_e9"),
            F.coalesce(F.col("dcg_e9"), F.lit(0)).cast("long").alias("dcg_e9"),
            F.coalesce(F.col("idcg_e9"), F.lit(0))
            .cast("long")
            .alias("idcg_e9"),
            F.when(F.coalesce(F.col("idcg_e9"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("dcg_e9"), F.lit(0)).cast("double")
                / F.col("idcg_e9")
            )
            .alias("ndcg"),
        )
        .orderBy("query")
    )


# ---------------------------------------------------------------------------
# q163 — language-ID confusion matrix
# ---------------------------------------------------------------------------

_Q32_SQL = _REG["q32_language_id"].oracle


@register(
    "q163_langid_confusion",
    f"""
    WITH preds AS (SELECT labeled_lang, pred_lang FROM ({_Q32_SQL}))
    SELECT labeled_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN labeled_lang = pred_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM preds
    GROUP BY labeled_lang, pred_lang
    ORDER BY labeled_lang, pred_lang
    """,
    doc="Confusion matrix of the q32 n-gram language identifier "
    "against the labeled lang column — which language pairs the "
    "marker heuristic confuses, and how often. Composes the "
    "existing classifier output with one 25-cell aggregate; the "
    "per-cell counts are the monitoring artifact a lang-routing "
    "pipeline (q116's mixture, q121's per-language vocab) checks "
    "before trusting the router on a new crawl.",
)
def q163_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = q32_language_id(spark, sf_dir).select("labeled_lang", "pred_lang")
    return (
        preds.groupBy("labeled_lang", "pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (F.col("labeled_lang") == F.col("pred_lang")).cast("int")
            )
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("labeled_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# q178 — bigram-LM perplexity filter (the CCNet LM-filter shape)
# ---------------------------------------------------------------------------

#: per-doc bigram list as a pure array expression (no explode until the
#: scoring join): tokens i and i+1 concatenated, 1-indexed element_at.
#: The size >= 2 guard is load-bearing: sequence(1, 0) in Spark is the
#: DESCENDING [1, 0] (step defaults to -1 when start > stop), so a
#: single-token document would hit element_at(ts, 2) and throw
#: INVALID_ARRAY_INDEX_IN_ELEMENT_AT; the guarded form yields the empty
#: bigram list, matching DuckDB's empty range(1, 1).
_BIGRAMS_EXPR = (
    "CASE WHEN size(ts) >= 2 THEN"
    " transform(sequence(1, size(ts) - 1),"
    " i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"
    " ELSE cast(array() AS array<string>) END"
)
_BIGRAMS_SQL = (
    "list_transform(range(1, greatest(len(ts), 1)),"
    " i -> ts[i] || ' ' || ts[i + 1])"
)


@register(
    "q178_bigram_lm_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    train_bg AS (
      SELECT unnest({_BIGRAMS_SQL}) AS bg
      FROM toks WHERE doc_id % 2 = 0
    ),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS bc FROM train_bg GROUP BY bg),
    uc AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(COUNT(*) AS BIGINT) AS uc
      FROM train_bg GROUP BY 1
    ),
    v AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz
      FROM (SELECT unnest(ts) AS tok FROM toks WHERE doc_id % 2 = 0) u
    ),
    test_bg AS (
      SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg
      FROM toks WHERE doc_id % 2 = 1
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(floor(ln(CAST(COALESCE(u.uc, 0) + v.vsz AS DOUBLE)
                            / (COALESCE(b.bc, 0) + 1)) * 1000000) AS BIGINT)
               AS nll_e6
      FROM test_bg t
      LEFT JOIN bc b ON b.bg = t.bg
      LEFT JOIN uc u ON u.w1 = string_split(t.bg, ' ')[1]
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_e6) AS BIGINT) AS nll_e6,
           CAST(SUM(nll_e6) // COUNT(*) AS BIGINT) AS mean_nll_e6
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Bigram language-model perplexity filter — the CCNet/CC-Net "
    "LM-quality gate: a bigram model with add-one smoothing trains on "
    "the even-doc_id half of the corpus (counts = two keyed "
    "aggregates; per-doc bigrams are a pure array transform, no "
    "explode until scoring) and scores the odd half, p(w2|w1) = "
    "(c(w1 w2)+1)/(c(w1 .)+V). Each bigram's negative log-prob is "
    "ln of an integer ratio — identical doubles on both engines — "
    "floored to 1e-6 fixed point, so the per-document sum is exact "
    "integer arithmetic under any aggregation order and the "
    "mean-NLL routing key (high = gibberish, low = fluent) is "
    "bit-deterministic. Scoring joins are keyed equi-joins against "
    "the count tables (corpus-sized vocabularies never broadcast); "
    "V joins as a broadcast scalar.",
)
def q178_bigram_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    train_bg = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
    )
    bc = train_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("bc"))
    uc = (
        train_bg.select(F.split("bg", " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    v = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("ts").alias("t"))
        .agg(F.countDistinct("t").alias("vsz"))
    )
    test_bg = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
        .withColumn("w1", F.split("bg", " ").getItem(0))
    )
    scored = (
        test_bg.join(bc, "bg", "left")
        .join(uc, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("uc"), F.lit(0)) + F.col("vsz")).cast(
                        "double"
                    )
                    / (F.coalesce(F.col("bc"), F.lit(0)) + 1)
                )
                * 1000000
            )
            .cast("long")
            .alias("nll_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll_e6").cast("long").alias("nll_e6"),
            F.expr("CAST(SUM(nll_e6) DIV COUNT(*) AS BIGINT)").alias(
                "mean_nll_e6"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q179 — exact phrase search over a positional inverted index
# ---------------------------------------------------------------------------

#: the fixed 3-token query phrase (mid-frequency words of the corpus)
PHRASE = ("merge", "slow", "join")


@register(
    "q179_phrase_search",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    postings AS (
      SELECT doc_id, i AS pos, ts[i] AS tok
      FROM toks, UNNEST(range(1, len(ts) + 1)) AS t(i)
      WHERE ts[i] IN ('{PHRASE[0]}', '{PHRASE[1]}', '{PHRASE[2]}')
    )
    SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(p0.pos) AS BIGINT) AS first_pos
    FROM postings p0
    JOIN postings p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
                    AND p1.tok = '{PHRASE[1]}'
    JOIN postings p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
                    AND p2.tok = '{PHRASE[2]}'
    WHERE p0.tok = '{PHRASE[0]}'
    GROUP BY p0.doc_id
    ORDER BY p0.doc_id
    """,
    doc="Exact phrase search via a positional inverted index — the "
    "retrieval primitive BM25 (q140) cannot express: postings are "
    "(doc, position, token) rows PRUNED to the phrase's tokens at the "
    "scan (the IN filter pushes down, so the index touches ~3 terms' "
    "postings however big the corpus), and adjacency is two keyed "
    "self-joins on (doc, pos+k) — the standard positional-intersection "
    "plan of a search engine, as shuffle-partitioned equi-joins. "
    "Output pins match counts and first positions per document, so a "
    "lost or off-by-one position breaks the hash.",
)
def q179_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        .filter(F.col("tok").isin(*PHRASE))
    )
    p0 = postings.filter(F.col("tok") == PHRASE[0]).select("doc_id", "pos")
    p1 = postings.filter(F.col("tok") == PHRASE[1]).select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("pos1")
    )
    p2 = postings.filter(F.col("tok") == PHRASE[2]).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    return (
        p0.join(p1, (p0.doc_id == F.col("d1")) & (F.col("pos1") == p0.pos + 1))
        .join(p2, (p0.doc_id == F.col("d2")) & (F.col("pos2") == p0.pos + 2))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q184 — PMI collocations (statistically bound token pairs)
# ---------------------------------------------------------------------------

#: minimum bigram support for a collocation candidate
PMI_MIN_COUNT = 5
PMI_TOPK = 20


@register(
    "q184_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
      SELECT unnest({_BIGRAMS_SQL}) AS bg FROM toks
    ),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY bg),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(ts) AS tok FROM toks) u GROUP BY tok
    ),
    tot AS (
      SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM bc
    ),
    scored AS (
      SELECT b.bg, b.n_ab, ua.n AS n_a, ub.n AS n_b,
             CAST(floor((ln(CAST(b.n_ab AS DOUBLE)) + ln(CAST(t.n_total AS DOUBLE))
                         - ln(CAST(ua.n AS DOUBLE)) - ln(CAST(ub.n AS DOUBLE)))
                        * 1000000) AS BIGINT) AS pmi_e6
      FROM bc b
      JOIN uni ua ON ua.tok = string_split(b.bg, ' ')[1]
      JOIN uni ub ON ub.tok = string_split(b.bg, ' ')[2]
      CROSS JOIN tot t
      WHERE b.n_ab >= {PMI_MIN_COUNT}
    )
    SELECT bg, n_ab, n_a, n_b, pmi_e6
    FROM scored
    ORDER BY pmi_e6 DESC, bg
    LIMIT {PMI_TOPK}
    """,
    doc="PMI collocation mining — the statistically-bound token pairs a "
    "tokenizer should merge and a phrase index should key: PMI = "
    "ln(c(ab)*N / (c(a)*c(b))) computed as a SUM OF FOUR LOGS of "
    "exact integer counts (the identical double expression on both "
    "engines — no integer product that could overflow at corpus "
    "scale), floored to 1e-6 fixed point so the top-k cut "
    "(pmi desc, bigram tie-break) is bit-deterministic. Marginals "
    "and bigram counts are keyed aggregates; the scoring joins are "
    "keyed equi-joins against the unigram table (corpus vocabularies "
    "never broadcast); the LIMIT compiles to TakeOrdered.",
)
def q184_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    bg = toks.select(F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
    bc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n_ab"))
    uni = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = bc.agg(F.sum("n_ab").alias("n_total"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    pmi = (
        F.floor(
            (
                F.log(F.col("n_ab").cast("double"))
                + F.log(F.col("n_total").cast("double"))
                - F.log(F.col("n_a").cast("double"))
                - F.log(F.col("n_b").cast("double"))
            )
            * 1000000
        )
        .cast("long")
        .alias("pmi_e6")
    )
    return (
        bc.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select("bg", F.col("n_ab").cast("long").alias("n_ab"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"), pmi)
        .orderBy(F.col("pmi_e6").desc(), "bg")
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# q189 — retrieval hard-negative mining over the BM25 run
# ---------------------------------------------------------------------------

#: hard negatives kept per query
HARDNEG_K = 5


def _q189_oracle() -> str:
    q140 = _REG["q140_bm25_topk"].oracle
    n_terms_values = ", ".join(
        f"('{q}', {sum(1 for qq, _ in BM25_QUERIES if qq == q)})"
        for q in sorted({q for q, _ in BM25_QUERIES})
    )
    return f"""
    WITH retrieved AS (
      SELECT query, doc_id, n_terms_hit, score_e6,
             ROW_NUMBER() OVER (PARTITION BY query
                                ORDER BY score_e6 DESC, doc_id) AS rnk
      FROM ({q140})
    ),
    qterms(query, n_terms) AS (VALUES {n_terms_values}),
    neg AS (
      SELECT r.query, r.doc_id, r.rnk, r.score_e6,
             ROW_NUMBER() OVER (PARTITION BY r.query ORDER BY r.rnk) AS k
      FROM retrieved r JOIN qterms q USING (query)
      WHERE r.n_terms_hit < q.n_terms
    )
    SELECT query, doc_id, rnk, score_e6
    FROM neg WHERE k <= {HARDNEG_K}
    ORDER BY query, rnk
    """


@register(
    "q189_hard_negatives",
    _q189_oracle(),
    doc="Hard-negative mining for contrastive retriever training — the "
    "step after BM25 (q140): a HARD negative is a document the ranker "
    "scores highly yet is NOT relevant (misses at least one query "
    "term under q161's all-terms relevance rule); taking the top-K "
    "such per query yields exactly the confusable examples a "
    "bi-encoder needs (random negatives are too easy). Rides the "
    "already-ranked q140 frame: one broadcast join against the query "
    "term counts, one keyed filter + per-query top-K window — no new "
    "corpus scan. Scores stay the exact 1e-6 fixed-point integers, "
    "so membership and order of the mined set are bit-deterministic.",
)
def q189_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_terms_map = {}
    for q, _t in BM25_QUERIES:
        n_terms_map[q] = n_terms_map.get(q, 0) + 1
    qterms = local_rows(
        spark, sorted(n_terms_map.items()), "query string, n_terms int"
    )
    retrieved = q140_bm25_topk(spark, sf_dir).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query").orderBy(
                F.col("score_e6").desc(), "doc_id"
            )
        ),
    )
    neg = retrieved.join(F.broadcast(qterms), "query").filter(
        F.col("n_terms_hit") < F.col("n_terms")
    )
    wk = Window.partitionBy("query").orderBy("rnk")
    return (
        neg.withColumn("_k", F.row_number().over(wk))
        .filter(F.col("_k") <= HARDNEG_K)
        .select("query", "doc_id", F.col("rnk").cast("long").alias("rnk"), "score_e6")
        .orderBy("query", "rnk")
    )


# ---------------------------------------------------------------------------
# q194 — DSIR-style importance weights (hashed n-gram distribution match)
# ---------------------------------------------------------------------------

#: hashed-feature bucket count. 4096 buckets keeps BOTH smoothed
#: unigram models broadcast-sized (two 4096-row count tables) at ANY
#: corpus scale — the whole "model" is two bounded dimension tables.
DSIR_BUCKETS = 4096

#: the shared 32-bit md5 token hash, bucketed — oracle twin of
#: shingle_h32(tok) % DSIR_BUCKETS (h32 is non-negative, so % == pmod).
_DSIR_BUCKET_SQL = (
    f"('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS}"
)


@register(
    "q194_dsir_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM toks
    ),
    tc AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM feats
      WHERE lang = 'en' GROUP BY b
    ),
    rc AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM feats
      WHERE lang <> 'en' GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS t_tot,
             CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS r_tot
      FROM feats
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(floor(ln(
               (CAST(COALESCE(tc.tc, 0) + 1 AS DOUBLE)
                * CAST(tot.r_tot + {DSIR_BUCKETS} AS DOUBLE))
               / (CAST(COALESCE(rc.rc, 0) + 1 AS DOUBLE)
                  * CAST(tot.t_tot + {DSIR_BUCKETS} AS DOUBLE))
             ) * 1000000) AS BIGINT) AS term_e6
      FROM feats f
      LEFT JOIN tc ON tc.b = f.b
      LEFT JOIN rc ON rc.b = f.b
      CROSS JOIN tot
      WHERE f.lang <> 'en'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(term_e6) AS BIGINT) AS logw_e6,
           CAST(CASE WHEN SUM(term_e6) >= 0 THEN 1 ELSE 0 END AS INTEGER)
             AS keep
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): hashed unigram "
    "features estimate a target distribution p (here the lang='en' "
    "slice standing in for the curated corpus) and a raw distribution "
    "q (everything else); each raw document's importance weight is "
    "sum over token occurrences of ln(p(b)/q(b)) with add-one "
    "smoothing over the 4096 hashed buckets. The entire 'model' is "
    "two 4096-row count tables — BROADCAST joins however big the "
    "corpus — so scoring is one token explode, two broadcast lookups, "
    "and one keyed per-doc aggregate: a single shuffle on doc_id at "
    "100 TB. Every ln term is the log of a ratio of exact integers "
    "(identical doubles on both engines), floored to 1e-6 fixed "
    "point, so the per-document sum is exact integer arithmetic under "
    "any aggregation order; keep = (sum >= 0) is the geometric-mean "
    "importance >= 1 selection rule, sidestepping negative integer "
    "division (Spark DIV truncates, DuckDB // floors).",
)
def q194_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingle_h32

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (shingle_h32(F.col("tok")) % DSIR_BUCKETS).alias("b"),
    )
    tc = (
        feats.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    rc = (
        feats.filter(F.col("lang") != "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    tot = feats.agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("t_tot"),
        F.sum((F.col("lang") != "en").cast("long")).alias("r_tot"),
    )
    num = (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double") * (
        F.col("r_tot") + F.lit(DSIR_BUCKETS)
    ).cast("double")
    den = (F.coalesce(F.col("rc"), F.lit(0)) + 1).cast("double") * (
        F.col("t_tot") + F.lit(DSIR_BUCKETS)
    ).cast("double")
    scored = (
        feats.filter(F.col("lang") != "en")
        .join(F.broadcast(tc), "b", "left")
        .join(F.broadcast(rc), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.floor(F.log(num / den) * 1000000).cast("long").alias("term_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("term_e6").cast("long").alias("logw_e6"),
            F.when(F.sum("term_e6") >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q211 — annotator agreement (Cohen's kappa) between quality filters
# ---------------------------------------------------------------------------

from . import corpus as _corpus  # registers q114 (corpus never imports textops
#                                  at module level, so no cycle)

_Q114_SQL_K = _REG["q114_quality_classifier"].oracle
_Q109_SQL_K = _REG["q109_gopher_rules"].oracle


@register(
    "q211_annotator_kappa",
    f"""
    WITH pair AS (
      SELECT d.source, a.keep AS keep_a, b.keep AS keep_b
      FROM documents d
      JOIN ({_Q114_SQL_K}) a USING (doc_id)
      JOIN ({_Q109_SQL_K}) b USING (doc_id)
    ),
    conf AS (
      SELECT source,
             CAST(SUM(CASE WHEN keep_a AND keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN keep_a AND NOT keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN NOT keep_a AND keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN NOT keep_a AND NOT keep_b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM pair GROUP BY source
    )
    SELECT source, n11, n10, n01, n00,
           n11 + n10 + n01 + n00 AS n,
           CAST(n11 + n00 AS DOUBLE) / (n11 + n10 + n01 + n00) AS agree_frac,
           CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) AS DOUBLE)
             / nullif((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                      - ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)), 0)
             AS kappa
    FROM conf ORDER BY source
    """,
    doc="Cohen's kappa between the repo's two independent keep/drop "
    "annotators — the q114 hashed linear classifier and the q109 "
    "Gopher ruleset — per source: the agreement-beyond-chance number "
    "a curation team reads before trusting a cheap filter as a "
    "stand-in for an expensive one (raw agreement is inflated "
    "whenever both annotators mostly say keep). kappa = (N*agree - "
    "pe_num) / (N^2 - pe_num) with pe_num = keepA*keepB + "
    "dropA*dropB: every term is an exact BIGINT count, so the two "
    "float outputs are each a SINGLE division of exact integers — "
    "bit-deterministic on any engine or partitioning. Plan: the two "
    "annotator scans (both zero-shuffle column expressions over the "
    "same table) hash-join on doc_id and fold into one per-source "
    "aggregate — the only exchanges are the doc_id joins and one "
    "bounded per-source shuffle.",
)
def q211_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _corpus.q114_quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_a")
    )
    b = q109_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_b")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = src.join(a, "doc_id").join(b, "doc_id")
    conf = j.groupBy("source").agg(
        F.sum((F.col("keep_a") & F.col("keep_b")).cast("int")).cast("long").alias("n11"),
        F.sum((F.col("keep_a") & ~F.col("keep_b")).cast("int")).cast("long").alias("n10"),
        F.sum((~F.col("keep_a") & F.col("keep_b")).cast("int")).cast("long").alias("n01"),
        F.sum((~F.col("keep_a") & ~F.col("keep_b")).cast("int")).cast("long").alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    agree = F.col("n11") + F.col("n00")
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n00") + F.col("n01")
    ) * (F.col("n00") + F.col("n10"))
    return conf.select(
        "source", "n11", "n10", "n01", "n00",
        n.alias("n"),
        (agree.cast("double") / n).alias("agree_frac"),
        ((n * agree - pe_num).cast("double") / F.nullif(n * n - pe_num, F.lit(0))).alias(
            "kappa"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q214 — corpus n-gram diversity per source (the self-BLEU proxy)
# ---------------------------------------------------------------------------


def _q214_gram_sql(k: int) -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k)).replace(
        "toks[i+0]", "toks[i]"
    )
    return f"""
      SELECT doc_id, source, {k} AS n,
             ('0x' || substr(md5({parts if k > 1 else "toks[i]"}), 1, 8))::BIGINT
               AS h
      FROM (
        SELECT doc_id, source, string_split(text, ' ') AS toks,
               unnest(range(1, greatest(len(string_split(text, ' ')) - {k - 1},
                                        0) + 1)) AS i
        FROM documents
      )
    """


@register(
    "q214_ngram_diversity",
    f"""
    WITH grams AS (
      {" UNION ALL ".join(_q214_gram_sql(k) for k in (1, 2, 3))}
    ),
    per AS (
      SELECT source, n, h,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
      FROM grams GROUP BY source, n, h
    )
    SELECT source, n,
           CAST(SUM(c) AS BIGINT) AS total_ngrams,
           CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
           CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_doc_ngrams,
           CAST(COUNT(*) AS DOUBLE) / SUM(c) AS diversity,
           CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS cross_doc_frac
    FROM per GROUP BY source, n
    ORDER BY source, n
    """,
    doc="Corpus-level n-gram diversity per source at n = 1, 2, 3: "
    "distinct/total n-gram ratio (the distinct-n-grams diversity "
    "metric behind self-BLEU-style generation audits, Zhu et al. "
    "2018) plus the fraction of distinct n-grams appearing in 2+ "
    "documents of the source — template/boilerplate mass as a "
    "cross-document signal. Unlike q95 (per-document repetition) or "
    "q30 (per-document token stats) this is a SOURCE-level novelty "
    "measure: a mirror-heavy or form-letter source shows high "
    "cross_doc_frac and low diversity long before any dedup pass "
    "runs, which is why curation teams read it when deciding how "
    "hard to dedup a source. All floats are single divisions of "
    "exact BIGINT counts over the shared md5-h32 gram family. Plan: "
    "three gram explodes union into one stream, then two keyed "
    "aggregates with map-side combine ((source, n, hash) then "
    "(source, n)) — two bounded shuffles, no windows, no Python; at "
    "100 TB the first aggregate's key space is the distinct-gram "
    "set, sharded uniformly by hash.",
)
def q214_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingle_h32, shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    frames = [
        docs.select(
            "doc_id",
            "source",
            F.lit(k).alias("n"),
            F.explode(
                F.transform(
                    shingles_from_tokens(F.col("toks"), k), shingle_h32
                )
            ).alias("h"),
        )
        for k in (1, 2, 3)
    ]
    grams = frames[0].unionByName(frames[1]).unionByName(frames[2])
    per = grams.groupBy("source", "n", "h").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("doc_id").alias("d"),
    )
    return (
        per.groupBy("source", "n")
        .agg(
            F.sum("c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
            F.sum((F.col("d") >= 2).cast("int")).cast("long").alias(
                "cross_doc_ngrams"
            ),
        )
        .select(
            "source", "n", "total_ngrams", "distinct_ngrams",
            "cross_doc_ngrams",
            (F.col("distinct_ngrams").cast("double") / F.col("total_ngrams")).alias(
                "diversity"
            ),
            (
                F.col("cross_doc_ngrams").cast("double")
                / F.col("distinct_ngrams")
            ).alias("cross_doc_frac"),
        )
        .orderBy("source", "n")
    )
