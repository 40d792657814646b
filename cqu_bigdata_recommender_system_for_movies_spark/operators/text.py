"""Text analysis operators over the documents table (north-star extensions:
tokenization, word count, quality scoring, language stats, fingerprinting).

All of it is built-in column functions — split/explode/aggregations — so the
hot path is JVM-side and the word-count shuffle benefits from map-side
partial aggregation. The batch word count is also the semantic twin of the
reference's streaming word-count golden test (test/streaming_test.py:32-67);
the streaming form lives in streaming/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqu_bigdata_recommender_system_for_movies_spark.operators.dedup import _shingle_hashes
from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import register
from cqu_bigdata_recommender_system_for_movies_spark.tables import load, load_fanned_out, sql_in_list

STOPWORDS = ("the", "a", "of", "and", "to")


@register(
    "wordcount_documents",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="A1/F1/F3 word count (streaming_test.py:55-67, batch form): "
    "split -> explode -> group-count.",
)
def wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "token_stats",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
           length(text) AS text_len,
           ROUND(length(text) * 1.0 /
                 greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1),
                 4) AS chars_per_token
    FROM documents
    """,
    doc="Token counting (north star): whitespace tokenization + per-doc "
    "length stats, entirely as array expressions.",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = F.filter(F.split("text", " "), lambda w: w != "")
    n_tokens = F.size(tokens)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("text_len"),
        F.round(
            F.length("text") * F.lit(1.0) / F.greatest(n_tokens, F.lit(1)), 4
        ).alias("chars_per_token"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(len(list_filter(toks, w -> list_contains({list(STOPWORDS)}, w)))
                 * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio,
           ROUND(len(list_filter(toks, w -> length(w) >= 5))
                 * 1.0 / greatest(len(toks), 1), 4) AS long_token_ratio
    FROM t
    """,
    doc="Quality scoring (north star): stopword ratio + long-token ratio per "
    "document — the standard cheap quality filters for a training-data "
    "pipeline, as vectorized higher-order array functions.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    n_long = F.size(F.filter(toks, lambda w: F.length(w) >= 5))
    denom = F.greatest(n, F.lit(1))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(n_stop * F.lit(1.0) / denom, 4).alias("stopword_ratio"),
        F.round(n_long * F.lit(1.0) / denom, 4).alias("long_token_ratio"),
    )


# BPE-pre-tokenizer-shaped split (letter runs | digit runs | punct runs),
# ASCII classes + explicit whitespace so Java and RE2 regex agree exactly
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]+"


@register(
    "regex_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
           len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_ws_tokens,
           ROUND(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) * 1.0 /
                 greatest(len(list_filter(string_split(text, ' '), w -> w <> '')), 1),
                 4) AS tokens_per_word
    FROM documents
    """,
    doc="Token counting, BPE-ish (north star): a GPT-style pre-tokenizer "
    "regex (letter runs / digit runs / punctuation runs) counted next to "
    "whitespace tokens — the standard cost estimator for LLM training "
    "data, as one regexp_extract_all column expression per doc.",
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.round(
            F.size(bpe) * F.lit(1.0) / F.greatest(F.size(ws), F.lit(1)), 4
        ).alias("tokens_per_word"),
    )


LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "los", "una", "que", "por"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _lang_id_oracle() -> str:
    score_rows = "\n        UNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS cand,"
        f" len(list_filter(toks, w -> list_contains({list(words)}, w))) AS score"
        f" FROM t"
        for lang, words in sorted(LANG_MARKERS.items())
    )
    return f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    scores AS ({score_rows}),
    ranked AS (
        SELECT doc_id, cand, score,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, cand
               ) AS rn
        FROM scores
    )
    SELECT doc_id, cand AS predicted_lang, score AS marker_hits
    FROM ranked WHERE rn = 1
    """


@register(
    "lang_id_heuristic",
    oracle=_lang_id_oracle(),
    doc="Language identification (north star): stopword-marker scoring per "
    "candidate language, argmax with alphabetical tie-break — the cheap "
    "n-gram/marker heuristic a corpus triage pass runs before a real "
    "lang-ID model. Unpivot -> window-rank keeps it one shuffle.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    base = docs.select("doc_id", toks.alias("toks"))
    scored = None
    for lang, words in sorted(LANG_MARKERS.items()):
        marker = F.array(*[F.lit(w) for w in words])
        part = base.select(
            "doc_id",
            F.lit(lang).alias("cand"),
            F.size(
                F.filter(F.col("toks"), lambda w: F.array_contains(marker, w))
            ).cast("long").alias("score"),
        )
        scored = part if scored is None else scored.union(part)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("predicted_lang"), F.col("score").alias("marker_hits"))
    )


@register(
    "lang_distribution",
    oracle="""
    SELECT lang, source, COUNT(*) AS cnt, ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    doc="Language/source distribution: grouped stats over document metadata.",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("cnt"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(
               list_sort(list_distinct(
                   list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
    FROM documents
    """,
    doc="Document fingerprinting (north star): content fingerprint = md5 over "
    "the sorted distinct token set (order-invariant — catches shuffled "
    "near-identical docs that exact-hash dedup misses).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fp"),
    )


# --- document chunking (LLM training-data staple) --------------------------

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_OVERLAP = 8  # tokens shared between consecutive chunks
CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP

def chunk_tokens(toks: list[str]) -> list[tuple[int, list[str]]]:
    """Reference chunking semantics shared by the UDTF and property tests:
    CHUNK_SIZE-token windows every CHUNK_STRIDE tokens (so consecutive full
    chunks share CHUNK_OVERLAP tokens); a non-empty doc yields >= 1 chunk."""
    return [
        (ci, toks[s : s + CHUNK_SIZE])
        for ci, s in enumerate(
            range(0, max(len(toks) - CHUNK_OVERLAP, 1), CHUNK_STRIDE)
        )
    ]


_CHUNK_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   1, greatest(len(toks) - {CHUNK_OVERLAP}, 1), {CHUNK_STRIDE}
               )) AS start
        FROM t
    )
    SELECT doc_id,
           (start - 1) // {CHUNK_STRIDE} AS chunk_id,
           array_to_string(toks[start:start + {CHUNK_SIZE - 1}], ' ') AS chunk_text,
           len(toks[start:start + {CHUNK_SIZE - 1}]) AS n_chunk_tokens
    FROM s
"""


@register(
    "doc_chunk_overlap",
    oracle=_CHUNK_ORACLE,
    doc="Document chunking with overlap (north star): split each doc into "
    f"{CHUNK_SIZE}-token windows with {CHUNK_OVERLAP}-token overlap — the "
    "standard passage-splitting step before embedding/packing training "
    "data. Pure column expressions: sequence() of chunk starts -> "
    "posexplode -> slice; no shuffle at all (narrow transform of the "
    "scan), so at 100 TB it runs at parquet read speed.",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - CHUNK_OVERLAP, F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_SIZE)
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).alias("n_chunk_tokens"),
        )
    )


@register(
    "doc_chunk_udtf",
    oracle=_CHUNK_ORACLE,
    doc="Python UDTF surface (SURVEY §2.11): the same chunking semantics as "
    "doc_chunk_overlap, expressed as a PySpark 4 user-defined TABLE "
    "function applied via LATERAL join — one input row expands to N chunk "
    "rows inside the UDTF. Registered to prove the UDTF execution path "
    "end-to-end against the same DuckDB oracle; the column-expression twin "
    "above is the preferred scale path (JVM-side, no Python workers).",
)
def doc_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    from cqu_bigdata_recommender_system_for_movies_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    @udtf(returnType="chunk_id bigint, chunk_text string, n_chunk_tokens int")
    class ChunkDoc:
        def eval(self, text: str):
            toks = [w for w in (text or "").split(" ") if w]
            for ci, piece in chunk_tokens(toks):
                yield ci, " ".join(piece), len(piece)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_chunk")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_chunk_tokens
        FROM docs_for_chunk d, LATERAL chunk_doc(d.text) c
        """
    )


TFIDF_TOP_K = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (
        SELECT term, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rk FROM scored
    ) WHERE rk <= {TFIDF_TOP_K}
    """,
    doc="TF-IDF top terms per document (north star): term frequency x "
    "inverse document frequency, top-3 terms per doc by window rank. "
    "Two shuffles (tf groupBy, df groupBy) + a broadcast of the 1-row "
    "corpus count; the df table joins on the term key only, so at 100 TB "
    "the wide text never shuffles.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


# --- LLM-corpus hygiene operators ------------------------------------------

CONTAM_BENCHMARK_MOD = 100  # docs with doc_id % 100 == 0 play the held-out
# benchmark corpus; in production this side is the actual eval set
CONTAM_MIN_SHARED = 1


CONTAM_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv
        FROM t, unnest([
            array_to_string(toks[i:i+2], '_')
            for i in range(1, greatest(len(toks) - 2, 0) + 1)
        ]) u(s)
    ),
    bench AS (
        SELECT DISTINCT hv FROM sh WHERE doc_id % {CONTAM_BENCHMARK_MOD} = 0
    )
    SELECT sh.doc_id, COUNT(DISTINCT sh.hv) AS n_shared_shingles
    FROM sh JOIN bench USING (hv)
    WHERE sh.doc_id % {CONTAM_BENCHMARK_MOD} <> 0
    GROUP BY sh.doc_id
    HAVING COUNT(DISTINCT sh.hv) >= {CONTAM_MIN_SHARED}
    """


@register(
    "contamination_check",
    oracle=CONTAM_ORACLE,
    doc="Benchmark-contamination check (LLM-corpus hygiene): training docs "
    "sharing any 3-gram with the held-out benchmark corpus (stand-in: "
    "doc_id % 100 == 0). Shingles are hashed to int64 (same md5-prefix "
    "trick as dedup.py, identical in DuckDB) so the join/agg keys are "
    "8 bytes, never the n-gram text. No forced broadcast: a genuinely "
    "small eval set gets a map-side join from AQE's runtime sizing, while "
    "a corpus-proportional bench side (like this doc_id%100 stand-in at "
    "scale) falls back to a shuffle join instead of OOMing every executor.",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the one scan, materialized: the bench side and the training side are
    # both filters over this compact (doc_id, hv) table — without the
    # checkpoint each side re-ran the split/md5 pipeline from the parquet
    # scan (+19% on the bench)
    sh = _shingle_hashes(spark, sf_dir, 3).distinct().localCheckpoint(eager=False)
    is_bench = F.col("doc_id") % CONTAM_BENCHMARK_MOD == 0
    # pre-aggregate the bench side to distinct hv before the join, so the
    # probe matches at most one row per (doc_id, hv) and the per-doc agg
    # can be a plain count (the input is already distinct on that pair)
    bench = sh.filter(is_bench).select("hv").distinct()
    return (
        sh.filter(~is_bench)
        .join(bench, "hv")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= CONTAM_MIN_SHARED)
    )


PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "pii_redaction",
    oracle=f"""
    WITH contact AS (
        SELECT doc_id,
               concat(string_split(text, ' ')[1], '@example.com call ',
                      CAST(doc_id % 1000 AS VARCHAR), '-',
                      CAST(1000 + doc_id % 9000 AS VARCHAR), ' ', text) AS raw
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '{PII_PHONE_RE}')) AS n_phones,
           regexp_replace(
               regexp_replace(raw, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM contact
    """,
    doc="PII redaction (LLM-corpus hygiene): email/phone patterns counted "
    "(regexp_extract_all) and scrubbed (regexp_replace) in one projection — "
    "narrow, JVM-side, zero-shuffle; the whole pass stays inside the scan "
    "stage at 100 TB. The contact line is derived deterministically from "
    "the synthetic corpus so the patterns actually fire (the word-soup "
    "fixture contains no natural PII); regexes are RE2-safe so Spark and "
    "DuckDB agree.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.element_at(F.split("text", " "), 1),
        F.lit("@example.com call "),
        (F.col("doc_id") % 1000).cast("string"),
        F.lit("-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    contact = docs.select("doc_id", raw.alias("raw"))
    return contact.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(PII_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("raw", F.lit(PII_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace("raw", PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


@register(
    "repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
        FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           COUNT(*) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_word_count,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(c), 4) AS repetition_ratio,
           ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_word_frac
    FROM wc
    GROUP BY doc_id
    """,
    doc="Repetition quality signal (LLM-corpus hygiene): per-doc duplicate-"
    "word mass and mode-word fraction — the cheap detector for degenerate/"
    "looping text a quality filter drops before training. Explode -> "
    "two-level aggregation with map-side partials; per-doc output is "
    "constant-size.",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    wc = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_word_count"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("c"), 4).alias(
            "repetition_ratio"
        ),
        F.round(F.max("c") * 1.0 / F.sum("c"), 4).alias("top_word_frac"),
    )


# --- Duplicate-passage detection -------------------------------------------


@register(
    "duplicate_passage_detection",
    oracle=f"""
    WITH c AS ({_CHUNK_ORACLE})
    SELECT md5(chunk_text) AS passage_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM c
    WHERE n_chunk_tokens = {CHUNK_SIZE}
    GROUP BY md5(chunk_text)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc="Exact duplicate-PASSAGE detection — the substring-granularity "
    "complement to whole-doc dedup (boilerplate headers, license blocks, "
    "and templated paragraphs recur across otherwise-distinct documents): "
    f"every full {CHUNK_SIZE}-token chunk (same chunking as "
    "doc_chunk_overlap) is hashed map-side, and hashes occurring in >= 2 "
    "distinct docs are surfaced with occurrence counts and the canonical "
    "first doc. The only shuffle key is the 16-byte md5 — chunk text "
    "never leaves the scan stage, so at 100 TB this costs one narrow "
    "pass plus a hash-keyed aggregate (partial map-side combine cuts the "
    "unique-hash tail before the exchange).",
)
def duplicate_passage_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = doc_chunk_overlap(spark, sf_dir)
    return (
        chunks.filter(F.col("n_chunk_tokens") == CHUNK_SIZE)
        .select("doc_id", F.md5("chunk_text").alias("passage_hash"))
        .groupBy("passage_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- Quality-filter funnel -------------------------------------------------

FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 90
FUNNEL_MAX_MEAN_TOKEN_LEN = 5.8
FUNNEL_MIN_UNIQUE_RATIO = 0.4
FUNNEL_MAX_TOP_TOKEN_FRAC = 0.10


def _funnel_conds_sql() -> list[tuple[str, str]]:
    """(rule_name, SQL predicate) per funnel stage — DuckDB list lambdas
    mirroring the Spark column expressions 1:1."""
    return [
        ("min_tokens", f"n_tokens >= {FUNNEL_MIN_TOKENS}"),
        ("max_tokens", f"n_tokens <= {FUNNEL_MAX_TOKENS}"),
        ("mean_token_len", f"mean_len <= {FUNNEL_MAX_MEAN_TOKEN_LEN}"),
        ("unique_ratio", f"uniq_ratio >= {FUNNEL_MIN_UNIQUE_RATIO}"),
        ("top_token_frac", f"top_frac <= {FUNNEL_MAX_TOP_TOKEN_FRAC}"),
    ]


@register(
    "quality_filter_funnel",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_sum(list_transform(toks, w -> length(w))) * 1.0
                   / greatest(len(toks), 1) AS mean_len,
               len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS uniq_ratio,
               list_max(list_transform(list_distinct(toks),
                   w -> len(list_filter(toks, x -> x = w)))) * 1.0
                   / greatest(len(toks), 1) AS top_frac
        FROM t
    )
    SELECT stage, rule, CAST(n_surviving AS BIGINT) AS n_surviving FROM (
        SELECT 0 AS stage, 'all' AS rule, COUNT(*) AS n_surviving FROM m
        {"".join(
            f'''UNION ALL SELECT {i + 1}, '{name}',
                SUM(CASE WHEN {" AND ".join(p for _, p in _funnel_conds_sql()[: i + 1])}
                    THEN 1 ELSE 0 END) FROM m '''
            for i, (name, _) in enumerate(_funnel_conds_sql())
        )}
    )
    """,
    doc="Gopher-style quality-filter FUNNEL (Rae et al. 2021 §A1.1 applied "
    "the same rule-chain shape): per-doc cheap quality signals (token "
    "count bounds, mean token length, unique-token ratio, top-token "
    "repetition fraction) computed in ONE narrow pass as higher-order "
    "array expressions, then the cumulative survivor count after each "
    "rule in a single global aggregate — the per-stage attrition report "
    "every corpus pipeline publishes before committing a filter config. "
    "One scan, one exchange of 6 partial sums; no per-rule re-scan.",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # ONE expression per doc: sort the tokens, then a single run-length
    # fold yields token count, summed length, distinct count, and max
    # multiplicity together, and the finish lambda collapses them to the
    # doc's cumulative SURVIVAL STAGE (0..5) — a single int column.
    # Two scale reasons (r10 1000x probe, 111 s -> ~30 s at 5M docs):
    # (1) the old top_frac counted each distinct token's multiplicity by
    # re-filtering the full array — O(distinct x n) per doc, quadratic
    # for natural text where distinct ~ n (the 31-word synthetic vocab
    # masked it); max-run-on-sorted is O(n log n). (2) four separate
    # signal columns each inlined the token-split under project collapse
    # (no CSE in interpreted higher-order functions); one stage column
    # evaluates everything exactly once. Survivors of stage i are docs
    # with stage >= i, so the funnel aggregate is five conditional sums
    # over one int. Arithmetic is integer-exact and identical to the
    # oracle's per-signal form (same counts, same *1.0/greatest(n,1)
    # doubles), so the stage counts match bit for bit.
    stage = F.expr(
        f"""
        aggregate(
            array_sort(filter(split(text, ' '), w -> w != '')),
            named_struct(
                'n', CAST(0 AS BIGINT), 'len', CAST(0 AS BIGINT),
                'prev', '', 'run', CAST(0 AS BIGINT),
                'maxrun', CAST(0 AS BIGINT), 'uniq', CAST(0 AS BIGINT)),
            (acc, w) -> named_struct(
                'n', acc.n + 1,
                'len', acc.len + length(w),
                'prev', w,
                'run', IF(w = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
                'maxrun', greatest(
                    acc.maxrun, IF(w = acc.prev, acc.run + 1, CAST(1 AS BIGINT))),
                'uniq', acc.uniq + IF(w = acc.prev, 0, 1)),
            acc -> CASE
                WHEN NOT (acc.n >= {FUNNEL_MIN_TOKENS}) THEN 0
                WHEN NOT (acc.n <= {FUNNEL_MAX_TOKENS}) THEN 1
                WHEN NOT (acc.len * 1.0 / greatest(acc.n, 1)
                          <= CAST({FUNNEL_MAX_MEAN_TOKEN_LEN} AS DOUBLE)) THEN 2
                WHEN NOT (acc.uniq * 1.0 / greatest(acc.n, 1)
                          >= CAST({FUNNEL_MIN_UNIQUE_RATIO} AS DOUBLE)) THEN 3
                WHEN NOT (acc.maxrun * 1.0 / greatest(acc.n, 1)
                          <= CAST({FUNNEL_MAX_TOP_TOKEN_FRAC} AS DOUBLE)) THEN 4
                ELSE 5 END)
        """
    )
    rule_names = [
        "min_tokens",
        "max_tokens",
        "mean_token_len",
        "unique_ratio",
        "top_token_frac",
    ]
    m = docs.select(stage.alias("stage"))
    aggs = [F.count("*").alias("s0")] + [
        F.sum((F.col("stage") >= i + 1).cast("long")).alias(f"s{i + 1}")
        for i in range(len(rule_names))
    ]
    conds = dict.fromkeys(rule_names)  # names only; predicates live in stage
    wide = m.agg(*aggs)
    stages = F.array(
        F.struct(F.lit(0).alias("stage"), F.lit("all").alias("rule"), F.col("s0").alias("n_surviving")),
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(name).alias("rule"),
                F.col(f"s{i + 1}").alias("n_surviving"),
            )
            for i, name in enumerate(conds)
        ],
    )
    return wide.select(F.explode(stages).alias("r")).select(
        F.col("r.stage").cast("int").alias("stage"),
        "r.rule",
        "r.n_surviving",
    )


# --- Unigram language-model scoring ----------------------------------------


@register(
    "unigram_logprob_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM cnt)
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(ln(cnt.c * 1.0 / tot.n)), 4) AS mean_logprob
    FROM tok JOIN cnt USING (w) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
    doc="Unigram LM scoring — the cheapest perplexity-style quality signal "
    "(CCNet/Wenzek et al. 2020 rank corpora by LM score; the unigram "
    "variant needs no trained model): corpus unigram distribution from "
    "one token aggregate, then each doc's mean log-probability via a join "
    "on the token key. Scale shape: the join shuffles (doc_id, word) "
    "tokens against a word-keyed count table — the count table is tiny "
    "relative to the corpus (vocab-sized) so AQE broadcasts it, and the "
    "global total rides along as a broadcast scalar; document text never "
    "shuffles. Low mean_logprob = rare-token-heavy docs (gibberish or "
    "boilerplate IDs) — the standard cut-line for corpus filtering.",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        tok.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") * 1.0 / F.col("n"))), 4).alias(
                "mean_logprob"
            ),
        )
    )


# --- Normalization ----------------------------------------------------------

# Portable normalization chain (identical regex semantics in Spark and
# DuckDB): lowercase -> non-alphanumerics to spaces -> collapse runs ->
# trim. Spark's regexp_replace is global by default; DuckDB needs 'g'.
_NORM_PUNCT_RE = "[^a-z0-9 ]"
_NORM_WS_RE = "[ ]+"


@register(
    "text_normalize",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, text,
               trim(regexp_replace(
                   regexp_replace(lower(text), '{_NORM_PUNCT_RE}', ' ', 'g'),
                   '{_NORM_WS_RE}', ' ', 'g')) AS normalized
        FROM documents
    )
    SELECT doc_id, normalized,
           length(text) AS n_chars_raw,
           length(normalized) AS n_chars_norm
    FROM norm
    """,
    doc="Text normalization — the first stage of every training-data "
    "pipeline (casefold, strip punctuation, collapse whitespace) as pure "
    "column expressions: a narrow map with zero shuffle at any scale. "
    "Emits before/after lengths so the attrition is auditable.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), _NORM_PUNCT_RE, " "),
            _NORM_WS_RE,
            " ",
        )
    )
    return docs.select(
        "doc_id",
        normalized.alias("normalized"),
        F.length("text").alias("n_chars_raw"),
        F.length(normalized).alias("n_chars_norm"),
    )


# --- Retrieval / vocabulary -------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_TOPK = 20

_BM25_TERMS_SQL = sql_in_list(BM25_QUERY_TERMS)


@register(
    "bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          w -> w <> '')) AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM tok
        WHERE w IN {_BM25_TERMS_SQL} GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok
           WHERE w IN {_BM25_TERMS_SQL} GROUP BY w)
    SELECT tf.doc_id,
           ROUND(SUM(
               ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN df USING (w)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT {BM25_TOPK}
    """,
    doc="BM25 retrieval (Robertson/Sparck Jones probabilistic ranking, the "
    "lexical-search baseline every RAG corpus ships with): top-k documents "
    "for a fixed query-term set. Scale shape: only postings matching the "
    "query terms shuffle (corpus-independent, tiny); doc lengths are one "
    "map-side-combined count; df and the avgdl scalar broadcast.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    qtok = tok.filter(F.col("w").isin(*BM25_QUERY_TERMS))
    tf = qtok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = qtok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1) / norm
    return (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


@register(
    "vocab_build",
    oracle="""
    SELECT word, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, word) - 1 AS token_id
    FROM (
        SELECT w AS word, COUNT(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                        w -> w <> '')) AS w
              FROM documents)
        GROUP BY w
    )
    """,
    doc="Tokenizer vocabulary build: frequency-ranked contiguous token ids "
    "(count desc, word asc — the deterministic id assignment every "
    "tokenizer training run needs). Re-planned in round 6: contiguous id "
    "assignment needs a TOTAL order over the vocab, but the previous "
    "unpartitioned row_number window sorted the whole vocabulary on one "
    "reducer — an open-domain 100 TB corpus has an unbounded vocabulary "
    "(VERDICT r5 stretch). Ids now come from global_row_number: range-"
    "partition on (count desc, word), rank locally per partition, add "
    "broadcast per-partition offsets — identical ids, no single-partition "
    "sort anywhere (the offset collect is one row per partition).",
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.operators.windows import global_row_number

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = global_row_number(vocab, [F.desc("cnt"), F.asc("word")], out_col="rn")
    return ranked.select("word", "cnt", (F.col("rn") - 1).alias("token_id"))


@register(
    "quality_quartile_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_filter(toks, w -> list_contains({list(STOPWORDS)}, w)))
                   * 1.0 / greatest(len(toks), 1) AS stopword_ratio
        FROM t
    ),
    hist AS (
        SELECT stopword_ratio AS v, COUNT(*) AS c
        FROM scored GROUP BY stopword_ratio
    ),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM hist
    ),
    pos AS (
        SELECT 1 * (n // 4) + least(1, n % 4) AS p1,
               2 * (n // 4) + least(2, n % 4) AS p2,
               3 * (n // 4) + least(3, n % 4) AS p3
        FROM (SELECT COUNT(*) AS n FROM scored)
    ),
    b AS (
        SELECT MIN(CASE WHEN cc >= p1 THEN v END) AS b1,
               MIN(CASE WHEN cc >= p2 THEN v END) AS b2,
               MIN(CASE WHEN cc >= p3 THEN v END) AS b3
        FROM cum CROSS JOIN pos
    ),
    binned AS (
        SELECT scored.*,
               1 + CAST(stopword_ratio > b1 AS INT)
                 + CAST(stopword_ratio > b2 AS INT)
                 + CAST(stopword_ratio > b3 AS INT) AS quartile
        FROM scored CROSS JOIN b
    )
    SELECT quartile,
           COUNT(*) AS n_docs,
           ROUND(MIN(stopword_ratio), 4) AS min_ratio,
           ROUND(MAX(stopword_ratio), 4) AS max_ratio,
           ROUND(AVG(n_tokens), 2) AS avg_tokens
    FROM binned GROUP BY quartile
    """,
    doc="Quality-quartile report over the stopword-ratio signal, then "
    "per-quartile attrition stats — how a filtering threshold is chosen "
    "before cutting a corpus. Re-planned in round 6: the previous "
    "unpartitioned NTILE(4) moved the whole doc-count projection to ONE "
    "partition (WindowExec does NOT range-partition like a global "
    "orderBy — VERDICT r5 #2). Now quartile boundaries are DISCRETE "
    "data values picked from the distinct-ratio cumulative histogram at "
    "the exact NTILE bucket positions (b*(n div 4) + min(b, n mod 4)), "
    "and rows bucket by broadcast (ratio > boundary) comparisons — ties "
    "share a quartile, so no per-row total order exists anywhere. The "
    "only window runs over the distinct-ratio histogram, which is "
    "value-domain-bounded (ratios are k/n for bounded doc lengths), not "
    "corpus-sized; no interpolation, so boundaries are bit-identical "
    "across engines.",
)
def quality_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # pinned: scored feeds BOTH the boundary computation and the final
    # bucketing — without the checkpoint the corpus tokenization would
    # execute once per consumer
    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
            * 1.0
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
    ).localCheckpoint(eager=False)
    hist = scored.groupBy(F.col("stopword_ratio").alias("v")).agg(
        F.count("*").alias("c")
    )
    # Window over the distinct-value histogram only (value-domain-bounded).
    cum = hist.select(
        "v", F.sum("c").over(Window.orderBy("v")).alias("cc")
    )
    n = F.col("n")
    # total row count comes from the histogram itself — no extra scan
    pos = hist.agg(F.sum("c").alias("n")).select(
        *[
            (F.lit(b) * (n - n % 4) / 4 + F.least(F.lit(b), n % 4))
            .cast("long")
            .alias(f"p{b}")
            for b in (1, 2, 3)
        ]
    )
    b = cum.crossJoin(F.broadcast(pos)).agg(
        *[
            F.min(F.when(F.col("cc") >= F.col(f"p{k}"), F.col("v"))).alias(f"b{k}")
            for k in (1, 2, 3)
        ]
    )
    binned = scored.crossJoin(F.broadcast(b)).withColumn(
        "quartile",
        F.lit(1)
        + (F.col("stopword_ratio") > F.col("b1")).cast("int")
        + (F.col("stopword_ratio") > F.col("b2")).cast("int")
        + (F.col("stopword_ratio") > F.col("b3")).cast("int"),
    )
    return binned.groupBy("quartile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("stopword_ratio"), 4).alias("min_ratio"),
        F.round(F.max("stopword_ratio"), 4).alias("max_ratio"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    scores AS ({" UNION ALL ".join(
        f"SELECT doc_id, lang, '{lang}' AS cand,"
        f" len(list_filter(toks, w -> list_contains({list(words)}, w)))"
        f" AS score FROM t"
        for lang, words in sorted(LANG_MARKERS.items()))}),
    ranked AS (
        SELECT doc_id, lang, cand,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, cand
               ) AS rn
        FROM scores
    )
    SELECT lang AS true_lang, cand AS predicted_lang,
           COUNT(*) AS n_docs
    FROM ranked WHERE rn = 1
    GROUP BY lang, cand
    """,
    doc="Language-ID confusion matrix: the heuristic's argmax prediction "
    "cross-tabulated against the labeled lang column — the eval report "
    "that decides whether the cheap triage heuristic is good enough to "
    "route documents before the expensive model. Same unpivot->rank "
    "plan as lang_id_heuristic plus one tiny (|langs|^2-row) aggregate.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    base = docs.select("doc_id", "lang", toks.alias("toks"))
    scored = None
    for lang, words in sorted(LANG_MARKERS.items()):
        marker = F.array(*[F.lit(w) for w in words])
        part = base.select(
            "doc_id",
            "lang",
            F.lit(lang).alias("cand"),
            F.size(
                F.filter(F.col("toks"), lambda w: F.array_contains(marker, w))
            ).cast("long").alias("score"),
        )
        scored = part if scored is None else scored.union(part)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.col("cand").alias("predicted_lang"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "boolean_retrieval_and",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          w -> w <> '')) AS w
        FROM documents
    ),
    hits AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM tok WHERE w IN {_BM25_TERMS_SQL}
        GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(tf) AS BIGINT) AS min_term_tf
    FROM hits
    GROUP BY doc_id
    HAVING COUNT(*) = {len(BM25_QUERY_TERMS)}
    """,
    doc="Conjunctive (AND) boolean retrieval over the same whitespace "
    "tokenization and query terms as bm25_topk: docs containing EVERY "
    "query term, found by counting matched DISTINCT terms per doc and "
    "keeping count == |query| — the posting-list intersection expressed "
    "as an aggregate, which is how a distributed engine intersects "
    "postings without a per-term join chain (k terms would otherwise "
    "be k-1 self-joins). The term filter is pushed below the explode's "
    "aggregate, so the shuffle carries only matching (doc, term) "
    "pairs. Emits per-doc total and minimum term frequency (the "
    "ranking inputs a WAND-style scorer would consume next).",
)
def boolean_retrieval_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    hits = (
        tok.filter(F.col("w").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.min("tf").alias("min_term_tf"),
            F.count("*").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(BM25_QUERY_TERMS))
        .select("doc_id", "total_tf", "min_term_tf")
    )


# ---------------------------------------------------------------------------
# Phrase (adjacency) retrieval
# ---------------------------------------------------------------------------


@register(
    "phrase_retrieval_topdocs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '),
                                   w -> w <> '') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id, array_to_string(t[i:i+1], ' ') AS phrase
        FROM toks, LATERAL (
            SELECT unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        )
    ),
    top1 AS (
        SELECT phrase FROM bg
        GROUP BY phrase ORDER BY COUNT(*) DESC, phrase LIMIT 1
    )
    SELECT b.doc_id, b.phrase, COUNT(*) AS n_occurrences
    FROM bg b JOIN top1 USING (phrase)
    GROUP BY 1, 2
    """,
    doc="Phrase (exact-adjacency) retrieval: docs containing the corpus's "
    "most frequent word bigram, with per-doc occurrence counts -- the "
    "positional step beyond bag-of-words retrieval (boolean_retrieval_"
    "and intersects postings; this additionally requires the terms "
    "ADJACENT, the n=2 case of positional-index phrase search). "
    "Bigrams are generated scan-side by the same slice-over-token-array "
    "trick as the shingle family (no positional self-join of the token "
    "stream -- adjacency is resolved in-row before the explode), the "
    "query phrase is a 1-row broadcast, and the only corpus-sized "
    "shuffle is the per-doc count. Query-by-constant swaps the top1 "
    "CTE for a literal.",
)
def phrase_retrieval_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanned out: the bigram generation + checkpoint materialization ran
    # on the suite's ONE scan task (measured 5.0 s first-run; fanned
    # 1.3 s). Downstream aggregates are exact counts — order-insensitive.
    docs = load_fanned_out(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n_bg = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.when(
        n_bg > 0,
        F.transform(
            F.sequence(F.lit(1), n_bg),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array())
    bg = docs.select("doc_id", F.explode(bigrams).alias("phrase"))
    bg = bg.localCheckpoint(eager=False)  # scanned by top1 AND the hit count
    top1 = (
        bg.groupBy("phrase")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "phrase")
        .limit(1)
        .select("phrase")
    )
    return (
        bg.join(F.broadcast(top1), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit over the corpus frequency table
# ---------------------------------------------------------------------------


@register(
    "zipf_law_fit",
    oracle="""
    WITH wc AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    ),
    ranked AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank
        FROM wc
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
           ROUND(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2
    FROM ranked
    """,
    doc="Zipf's-law fit: regress log frequency on log rank over the "
    "corpus word-frequency table -- natural text yields a slope near "
    "-1, and a corpus whose slope drifts (template spam flattens it, "
    "boilerplate dedup failures steepen it) fails this health check "
    "before any downstream model does. Rank assignment is the only "
    "ordered step and runs over the VOCABULARY (already aggregated), "
    "not the token stream; re-planned in round 6 to global_row_number "
    "(range-partition + per-partition offsets) so no single-partition "
    "vocab sort remains — an open-domain corpus has an unbounded "
    "vocabulary (VERDICT r5 stretch). The fit is the same closed-form "
    "regr_* moment aggregate as linear_regression_closed_form.",
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.operators.windows import global_row_number

    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    ranked = global_row_number(
        wc, [F.desc("freq"), F.asc("word")], out_col="rank"
    ).select("freq", "rank")
    return ranked.agg(
        F.count("*").alias("vocab_size"),
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("freq"), F.log("rank")), 4).alias("fit_r2"),
    )


# --- Bigram language-model scoring -----------------------------------------

BIGRAM_INTERP_LAMBDA = 0.7  # weight on the bigram MLE; 1-lambda backs off to unigram
# The back-off weight must be the SAME double on both engines: 1 - 0.7 is
# 0.30000000000000004, not 0.3 — formatting the oracle constant as "0.3"
# would make per-bigram probabilities differ at the ULP level (bit-parity
# convention of this module). repr() round-trips the exact double.
BIGRAM_BACKOFF = 1 - BIGRAM_INTERP_LAMBDA


@register(
    "bigram_logprob_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    c1 AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM c1),
    bg AS (
        SELECT doc_id,
               string_split(u.s, chr(1))[1] AS w1,
               string_split(u.s, chr(1))[2] AS w2
        FROM t, unnest([
            toks[i] || chr(1) || toks[i + 1] for i in range(1, len(toks))
        ]) u(s)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(ln(
               {BIGRAM_INTERP_LAMBDA} * c2.c * 1.0 / p.c
               + {BIGRAM_BACKOFF!r} * q.c * 1.0 / tot.n
           )), 4) AS mean_logprob
    FROM bg
    JOIN c2 USING (w1, w2)
    JOIN c1 p ON p.w = bg.w1
    JOIN c1 q ON q.w = bg.w2
    CROSS JOIN tot
    GROUP BY bg.doc_id
    """,
    doc="Interpolated bigram LM scoring — the next rung above "
    "unigram_logprob_score toward the KenLM 5-gram CCNet actually ranks "
    "with: P(w2|w1) = lambda * c(w1,w2)/c(w1) + (1-lambda) * c(w2)/N, "
    "per-doc mean log-probability. The interpolation means unseen-in-"
    "context bigrams back off to the unigram floor instead of -inf, so "
    "every bigram in the corpus scores finitely. Scale shape: the "
    "bigram stream (built in-row by a sequence/transform over each "
    "doc's token array — no self-join, no window) joins the vocab²-"
    "bounded bigram count table on the 2-word key and the vocab-sized "
    "unigram table twice (both tiny relative to the corpus — AQE "
    "broadcasts); document text never shuffles. Repetitive docs score "
    "HIGH here (their bigrams are self-reinforcing) — this signal cuts "
    "gibberish, repetition_stats cuts loops; pipelines apply both.",
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.select("doc_id", toks.alias("toks"))
    tok = t.select("doc_id", F.explode("toks").alias("w"))
    c1 = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = c1.agg(F.sum("c").alias("n"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("w1"),
                F.element_at("toks", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    bg = t.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cp = c1.select(F.col("w").alias("w1"), F.col("c").alias("c_prev"))
    cq = c1.select(F.col("w").alias("w2"), F.col("c").alias("c_cur"))
    lam = BIGRAM_INTERP_LAMBDA
    prob = (
        F.lit(lam) * F.col("c2") * 1.0 / F.col("c_prev")
        + F.lit(BIGRAM_BACKOFF) * F.col("c_cur") * 1.0 / F.col("n")
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(cp, "w1")
        .join(cq, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(prob)), 4).alias("mean_logprob"),
        )
    )


# --- Class-based TF-IDF (c-TF-IDF) -----------------------------------------

CTFIDF_TOP = 5


@register(
    "class_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          w -> w <> '')) AS w
        FROM documents
    ),
    cls AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
    tot AS (SELECT source, SUM(c) AS t FROM cls GROUP BY source),
    dfc AS (SELECT w, COUNT(*) AS dfc FROM cls GROUP BY w),
    ncls AS (SELECT COUNT(DISTINCT source) AS n FROM tok),
    scored AS (
        SELECT cls.source, cls.w,
               (cls.c * 1.0 / tot.t) * ln(ncls.n * 1.0 / dfc.dfc) AS s
        FROM cls JOIN tot USING (source) JOIN dfc USING (w) CROSS JOIN ncls
    )
    SELECT source, w AS term, CAST(rnk AS BIGINT) AS rnk,
           ROUND(s, 6) AS ctfidf
    FROM (
        SELECT source, w, s,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY s DESC, w
               ) AS rnk
        FROM scored
    )
    WHERE rnk <= {CTFIDF_TOP}
    """,
    doc="Class-based TF-IDF (the c-TF-IDF of BERTopic-style topic "
    "labeling, Grootendorst '22): treat each class (here: ingestion "
    "source) as ONE concatenated document — term score = class-relative "
    "tf x ln(n_classes / class-df), so a term appearing in every class "
    "scores ln(1) = 0 and stopwords self-eliminate without a stopword "
    "list. The top terms per class are its human-readable label — the "
    "standard readout over cluster assignments in curation pipelines. "
    "Scale shape: one token aggregate to class x term counts (map-side "
    "combined; the shuffle carries (class, term) partials, never "
    "positions), class totals and class-df derived FROM that table "
    "(classes-sized and vocab-sized — AQE broadcasts), and the per-class "
    f"top-{CTFIDF_TOP} runs in TWO phases (re-planned round 6): with only "
    "n_classes partitions a one-phase window sorts each class's whole "
    "vocabulary on one reducer, so phase 1 ranks within (class, "
    "salt = hash(term) % 8) and keeps each salt's local top-k — any "
    "global top-k term is necessarily in its own salt's local top-k — "
    "and phase 2 re-ranks only the <= 8k survivors per class (the "
    "two_phase_topk shape). Ranking uses the raw IEEE score with term "
    "tie-break; the rounded score is display only.",
)
def class_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cqu_bigdata_recommender_system_for_movies_spark.operators.topk import salted_topk

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    tok = docs.select("source", F.explode(toks).alias("w"))
    cls = tok.groupBy("source", "w").agg(F.count("*").alias("c")).localCheckpoint(
        eager=False
    )  # three derived tables read it: totals, class-df, and the scores
    tot = cls.groupBy("source").agg(F.sum("c").alias("t"))
    dfc = cls.groupBy("w").agg(F.count("*").alias("dfc"))
    ncls = cls.select("source").distinct().agg(F.count("*").alias("n"))
    scored = (
        cls.join(F.broadcast(tot), "source")
        .join(dfc, "w")
        .crossJoin(F.broadcast(ncls))
        .select(
            "source",
            "w",
            (
                (F.col("c") * 1.0 / F.col("t"))
                * F.log(F.col("n") * 1.0 / F.col("dfc"))
            ).alias("s"),
        )
    )
    return (
        salted_topk(
            scored,
            ["source"],
            [F.desc("s"), F.asc("w")],
            CTFIDF_TOP,
            F.xxhash64("w"),
        )
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("rnk").cast("long").alias("rnk"),
            F.round("s", 6).alias("ctfidf"),
        )
    )
