"""Text-analysis slugs over ``documents`` (training-data pipeline ops):
language-ID, quality scoring, token counting, fingerprinting.

All pure built-in-function pipelines (split / higher-order array funcs /
regexp) — no UDFs, so they run at codegen speed on 100 TB.  Word lists
and hash constants are Python literals shared verbatim by the Spark
expressions and the DuckDB oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from resotodatalink_spark.functions import hashing as H
from resotodatalink_spark.registry import query
from resotodatalink_spark.operators.checkpoint import ckpt as _ckpt
from resotodatalink_spark.sources.tables import table

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "des", "et", "est", "une"],
    "es": ["el", "los", "las", "y", "es", "una"],
}


def _score(dialect: str, lang: str) -> str:
    """#tokens of the doc that are stopwords of ``lang``."""
    member = H.in_list_sql("t", STOPWORDS[lang], dialect)
    if dialect == "spark":
        return f"size(filter(split(text, ' '), t -> {member}))"
    return f"len(list_filter(string_split(text, ' '), t -> {member}))"


def _pred_case() -> str:
    """Deterministic argmax with en>de>fr>es precedence (dialect-neutral
    — references the s_<lang> aliases)."""
    return """
    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         WHEN s_es > 0 THEN 'es'
         ELSE 'und' END
    """


@query(
    "lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST({_score('duck', 'en')} AS INTEGER) AS s_en,
             CAST({_score('duck', 'de')} AS INTEGER) AS s_de,
             CAST({_score('duck', 'fr')} AS INTEGER) AS s_fr,
             CAST({_score('duck', 'es')} AS INTEGER) AS s_es
      FROM documents
    )
    SELECT doc_id, s_en, s_de, s_fr, s_es, {_pred_case()} AS pred_lang
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram-heuristic family): score per
    language = stopword hits, argmax with fixed precedence."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        *[
            F.expr(_score("spark", lang)).cast("int").alias(f"s_{lang}")
            for lang in STOPWORDS
        ],
    )
    return scored.withColumn("pred_lang", F.expr(_pred_case()))


@query(
    "quality_score",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_chars_calc,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS n_digits
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           (n_chars_calc - (n_tokens - 1)) * 1.0 / n_tokens AS avg_token_len,
           n_digits * 1.0 / n_chars_calc AS digit_ratio,
           round(0.6 * least((n_chars_calc - (n_tokens - 1)) * 1.0 / n_tokens / 8.0, 1.0)
                 + 0.4 * (1.0 - n_digits * 1.0 / n_chars_calc), 6) AS quality
    FROM base
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score from length/token/digit stats — exact
    integer-derived ratios, so both engines agree bit-for-bit."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars_calc"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0)).alias("n_digits"),
    )
    avg_len = (F.col("n_chars_calc") - (F.col("n_tokens") - 1)) / F.col("n_tokens")
    digit_ratio = F.col("n_digits") / F.col("n_chars_calc")
    return base.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        avg_len.alias("avg_token_len"),
        digit_ratio.alias("digit_ratio"),
        F.round(
            0.6 * F.least(avg_len / 8.0, F.lit(1.0)) + 0.4 * (1.0 - digit_ratio), 6
        ).alias("quality"),
    )


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS INTEGER)
             AS re_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_calc
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens ([a-z]+|[0-9]+ runs)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+"), 0)).alias(
            "re_tokens"
        ),
        F.length("text").cast("int").alias("n_chars_calc"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH {H.duck_shingle_cte("documents", "doc_id", "text", 3)}
    SELECT doc_id,
           min(h) AS fp_min,
           max(h) AS fp_max,
           CAST(sum(h) % {H.MOD} AS BIGINT) AS fp_mix,
           CAST(count(DISTINCT h) AS INTEGER) AS n_shingles
    FROM __hashes GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style min/max plus a
    modular mix) over word-3-gram hashes."""
    from resotodatalink_spark.operators.dedup import shingle_hashes

    d = table(spark, sf_dir, "documents")
    g = shingle_hashes(d)
    return g.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        (F.sum("h") % H.MOD).alias("fp_mix"),
        F.countDistinct("h").cast("int").alias("n_shingles"),
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '', 'g'),
                ' +', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '', 'g'),
                ' +', ' ', 'g'))) AS norm_hash
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization pass for dedup keys: lowercase, strip digits,
    collapse whitespace, content hash.  (Spark regexp_replace is
    global by default; DuckDB needs the 'g' flag — same semantics.)"""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", ""), " +", " "
        )
    )
    return d.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_hash")
    )


@query(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id, tok, CAST(pos AS INTEGER) AS pos FROM (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ) t WHERE doc_id < 50
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SURVEY U5): lateral table function exploding text
    into (token, position) rows.  UDTFs are row-at-a-time Python — the
    slow path, shown for surface parity; the codegen equivalent is
    posexplode(split(...)), which is what production pipelines use."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok: string, pos: int")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate(text.split(" ")):
                yield t, i + 1

    spark.udtf.register("tokenize", Tokenize)
    d = table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") < 50).createOrReplaceTempView("__docs_small")
    return spark.sql(
        "SELECT d.doc_id, t.tok, t.pos FROM __docs_small d, LATERAL tokenize(d.text) t"
    )


@query(
    "frequent_terms",
    oracle="""
    SELECT tok, n, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT tok, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      GROUP BY tok
    ) r WHERE rnk <= 20
    """,
)
def frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: top-20 most frequent tokens (exact
    heavy hitters — explode, map-side-combined count, top-k)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # distributed top-k FIRST (TakeOrderedAndProject), THEN rank the 20
    # survivors — a global row_number window would drag the whole
    # vocabulary onto one partition at web scale
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(20)
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "tok", "n", "rnk"
    )


@query(
    "sample_hash_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE (doc_id * 2654435761 + 919380) % 2147483648
          < CAST((CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END)
                 * 2147483648 AS BIGINT)
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling via key hashing — the scale
    pattern for training-data curation (rand()-based sampleBy is not
    reproducible across engines or re-runs; a hash of the stable key
    is).  Down-samples the majority class: 10% of 'en', 50% of rest."""
    d = table(spark, sf_dir, "documents")
    # Knuth multiplier wraps even small ids into a pseudo-uniform value
    h = (F.col("doc_id") * 2654435761 + 919380) % 2147483648
    rate = F.when(F.col("lang") == "en", 0.1).otherwise(0.5)
    return d.filter(h < (rate * 2147483648).cast("long")).select("doc_id", "lang")


@query(
    "curation_pipeline",
    oracle="""
    WITH normed AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm_text,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      FROM documents
    ),
    quality AS (
      SELECT * FROM normed WHERE n_tokens >= 12
    ),
    dedup AS (
      SELECT md5(substring(norm_text, 1, 80)) AS content_hash,
             min(doc_id) AS doc_id
      FROM quality GROUP BY md5(substring(norm_text, 1, 80))
    ),
    survivors AS (
      SELECT q.doc_id, q.lang, q.n_tokens FROM quality q
      JOIN dedup d ON q.doc_id = d.doc_id
    )
    SELECT doc_id, lang, n_tokens FROM survivors
    WHERE (doc_id * 2654435761 + 919380) % 2147483648
          < CAST(0.5 * 2147483648 AS BIGINT)
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation flow the individual slugs
    exist for: normalize -> quality filter (min token count) -> exact
    dedup on the canonical prefix (keep min doc_id) -> reproducible
    50% hash sample.  One declarative plan end to end — Catalyst fuses
    the normalize+filter into the scan and the whole thing is two
    shuffles (dedup groupBy + survivor join)."""
    from resotodatalink_spark.operators.dedup import exact_dedup

    d = table(spark, sf_dir, "documents")
    normed = d.select(
        "doc_id",
        "lang",
        F.trim(F.regexp_replace(F.lower("text"), " +", " ")).alias("norm_text"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    quality = normed.filter(F.col("n_tokens") >= 12)
    survivors_ids = exact_dedup(
        quality, F.md5(F.substring("norm_text", 1, 80))
    ).select("doc_id")
    survivors = quality.join(survivors_ids, "doc_id")
    h = (F.col("doc_id") * 2654435761 + 919380) % 2147483648
    return survivors.filter(h < int(0.5 * 2147483648)).select(
        "doc_id", "lang", "n_tokens"
    )


@query(
    "text_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(ceil((len(t) - 8) / 24.0) AS BIGINT))) AS chunk_id,
             t
      FROM toks
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS INTEGER)
             AS chunk_tokens
    FROM chunks
    WHERE len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) > 0
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training: 32-token chunks with
    8-token overlap (stride 24).  Pure explode+slice — no UDF; at 100 TB
    this is the prep step before tokenization, so it must stay at scan
    speed.  Chunk count = ceil((n-overlap)/stride), covering every
    token with the final partial chunk kept."""
    d = table(spark, sf_dir, "documents")
    size, stride = 32, 24
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.expr(
                f"sequence(0, CAST(ceil((size(t) - {size - stride}) / {stride}.0) AS BIGINT))"
            )
        ).alias("chunk_id"),
    )
    piece = F.expr(f"slice(t, chunk_id * {stride} + 1, {size})")
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).alias("chunk_tokens"),
        )
        .filter(F.col("chunk_tokens") > 0)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  No broadcast hint on the
    document-frequency table: "vocabulary-sized" is unbounded at
    corpus scale (rare tokens, identifiers), and a forced hint
    overrides the fallback — AQE picks broadcast at runtime when the
    vocab actually fits.  ln() differs by ULPs across libm
    implementations, hence round(6) on both sides."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


@query(
    "quota_sample",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             round(0.6 * least((length(text) - (len(string_split(text, ' ')) - 1))
                               * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0)
                   + 0.4 * (1.0 - len(regexp_extract_all(text, '[0-9]'))
                            * 1.0 / length(text)), 6) AS quality
      FROM documents
    )
    SELECT doc_id, source, quality FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY quality DESC, doc_id) AS rn
      FROM scored
    ) t WHERE rn <= 25
    """,
)
def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling — cap each domain/source at its K best
    documents by quality (the anti-domination guard in training-data
    mixes: no single crawl source floods the corpus).  One window over
    the source key; at 100 TB this is a single shuffle partitioned by
    source, and a skewed mega-source is exactly what AQE skew handling
    plus the salted-agg fallback (operators/skew.py) exist for."""
    from pyspark.sql import Window as W

    from resotodatalink_spark.queries.text import quality_score

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = d.join(q, "doc_id")
    w = W.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("doc_id", "source", "quality")
    )


@query(
    "sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(before // 2048 AS BIGINT) AS bin_id,
           CAST(before % 2048 AS BIGINT) AS bin_offset
    FROM packed
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign each document a
    (bin, offset) inside fixed 2048-token context windows, filled in
    deterministic doc_id order WITHIN each source shard.  Per-shard
    packing is the scale shape — one window partitioned by the shard
    key, embarrassingly parallel across shards, versus a global order
    that would serialize the whole corpus through one task.  (Greedy
    sequential fill: a doc whose start lands near a bin boundary may
    overflow its bin — the standard approximation when packing is done
    relationally rather than with a bin-packing solver.)"""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(before / 2048).alias("bin_id"),
        (before % 2048).alias("bin_offset"),
    )


@query(
    "unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ),
    total AS (SELECT sum(cnt) AS n_total FROM vocab)
    SELECT d.doc_id,
           CAST(sum(d.n) AS INTEGER) AS n_tokens,
           round(sum(d.n * ln(v.cnt * 1.0 / t.n_total)) / sum(d.n), 6)
             AS avg_logprob
    FROM doc_tok d JOIN vocab v ON d.tok = v.tok CROSS JOIN total t
    GROUP BY d.doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM score per document — the public
    CCNet/Wikipedia-LM quality-filter shape with the corpus itself as
    the model: avg token log-probability under empirical unigram
    frequencies (low = gibberish / rare-token soup, high = fluent
    common prose).  Two-pass plan: (doc, tok) counts collapse the token
    stream FIRST (map-side combine), so the vocab join moves one row
    per distinct (doc, token) — not one per token occurrence — and the
    vocab side is aggregated on the same tok key it joins on, reusing
    the exchange.  The corpus-total is a broadcast scalar.  The per-doc
    sum is an order-sensitive double aggregate, so it is rounded (6dp)
    per the float discipline; terms-per-doc is ~#distinct tokens, far
    below the precision cliff."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    return (
        doc_tok.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("int").alias("n_tokens"),
            F.round(
                F.sum(F.col("n") * F.log(F.col("cnt") / F.col("n_total")))
                / F.sum("n"),
                6,
            ).alias("avg_logprob"),
        )
    )


@query(
    "novelty_score",
    oracle=f"""
    WITH {H.duck_shingle_cte("documents", "doc_id", "text", 3)},
    g AS (SELECT DISTINCT doc_id, h FROM __hashes),
    w AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM g)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END) AS novelty
    FROM w GROUP BY doc_id
    """,
)
def novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: the fraction of a document's distinct 3-gram
    shingles that appear in NO other document — the complement of the
    boilerplate/duplication signal curation pipelines threshold on
    (a doc of fully-shared text scores 0, fully original scores 1).

    Scale shape: corpus doc-frequency is an unordered window count
    over the shingle hash (one shuffle by h — the window-over-
    aggregate-join lesson from the jaccard prune sizes), then one
    groupBy doc.  No joins, no UDFs."""
    from resotodatalink_spark.operators.dedup import shingle_hashes

    d = table(spark, sf_dir, "documents")
    g = shingle_hashes(d, "doc_id", "text", 3).distinct()
    df = F.count("*").over(W.partitionBy("h"))
    return (
        g.withColumn("df", df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)).alias("novelty"),
        )
    )


@query(
    "corpus_stats",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang, source, n_chars,
             md5(substring(text, 1, 80)) AS h
      FROM documents
    ),
    sized AS (
      SELECT f.*, count(*) OVER (PARTITION BY h) AS grp
      FROM f
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           round(CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_fraction
    FROM sized
    """,
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: one row profiling the corpus — volume,
    language/source diversity, and the exact-duplicate fraction (share
    of docs whose content fingerprint is non-unique, the dedup_exact
    hash rule).  Scale shape: one window count partitioned by the
    fingerprint (cardinality = distinct content) feeding a single
    global aggregate; distinct counts are exact (count distinct over
    low-cardinality lang/source).  The one-row result is what a
    curation dashboard or datasheet generator consumes per snapshot."""
    d = table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.substring("text", 1, 80)).alias("h"),
    )
    sized = f.withColumn("grp", F.count("*").over(W.partitionBy("h")))
    return sized.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        F.round(
            F.sum(F.when(F.col("grp") > 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_fraction"),
    )


@query(
    "bpe_pair_stats",
    oracle="""
    SELECT pair, cnt, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT pair, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, pair) AS rnk
      FROM (
        SELECT substring(text, CAST(i AS INTEGER), 2) AS pair
        FROM (SELECT text, unnest(range(1, length(text))) AS i
              FROM documents) t
      ) p
      GROUP BY pair
    ) r WHERE rnk <= 20
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training's inner loop: frequency of every ADJACENT symbol
    pair across the corpus, top-20 merge candidates (char-level here;
    the token-level variant is the same plan with a different explode).

    Scale shape: pair generation is a codegen'd
    ``transform(sequence(...), i -> substring(text, i, 2))`` + explode
    — no Python; the count is map-side combined over a key space
    bounded by alphabet^2 (vocabulary, not corpus, cardinality); the
    top-k is TakeOrderedAndProject over those bounded counts, then the
    20 survivors get ranked (global window over a provably tiny
    frame)."""
    from resotodatalink_spark.operators.spread import spread_partitions

    # ~250M exploded char pairs off a 2-partition scan at sf1 — the
    # operators/spread.py narrow-scan rule (no-op on wide scans)
    d = spread_partitions(table(spark, sf_dir, "documents"), "doc_id")
    # Guard texts shorter than 2 chars: Spark's sequence(1, 0) is
    # DESCENDING ([1, 0]), so an unguarded 1-char text would emit two
    # bogus pairs (and an empty text three) where the oracle's
    # range(1, length) emits none — same guard as sparse_cosine_pairs.
    pairs = d.select(
        F.explode(
            F.when(
                F.length("text") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 1),
                    lambda i: F.col("text").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(20)
    w = W.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "pair", "cnt", "rnk"
    )


@query(
    "ngram_collocations",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    tok AS (SELECT unnest(t) AS tok FROM toks),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks
    ),
    n1 AS (SELECT tok, count(*) AS n_w FROM tok GROUP BY tok),
    n2 AS (
      SELECT bigram, count(*) AS n_ab FROM bg GROUP BY bigram
      HAVING count(*) >= 5
    ),
    tot AS (
      SELECT (SELECT count(*) FROM tok) AS t_total,
             (SELECT count(*) FROM bg) AS b_total
    )
    SELECT bigram, CAST(n_ab AS INTEGER) AS n_ab,
           round(ln((CAST(n_ab AS DOUBLE) * t_total * t_total)
                    / (CAST(b_total AS DOUBLE) * a.n_w * b.n_w)), 6) AS pmi
    FROM n2
    JOIN n1 a ON a.tok = split_part(bigram, ' ', 1)
    JOIN n1 b ON b.tok = split_part(bigram, ' ', 2)
    CROSS JOIN tot
    ORDER BY pmi DESC, bigram LIMIT 20
    """,
)
def ngram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token bigrams by pointwise
    mutual information (min count 5) — the phrase-detection pass a
    tokenizer-training pipeline runs before BPE merges.

    Scale shape: bigram generation is codegen'd zip_with over the
    token split (no Python, no posexplode self-join); both count
    aggregations are map-side combined over VOCABULARY-bounded key
    spaces and localCheckpointed (lazily) because each is consumed
    more than once — Catalyst cannot share a subtree across
    self-references, and without the checkpoint the naive plan scans
    the CORPUS five times (token counts twice for the two word joins,
    bigram counts, and one full re-scan per total).  The corpus-total
    scalars derive from the checkpointed vocab frames (sum of counts),
    so exactly TWO corpus scans remain.  The min-count filter shrinks
    the survivor set to the heavy hitters BEFORE the unigram joins, so
    the big vocab frame joins against a broadcast of the (bounded)
    survivors; the one-row totals frame rides in as a 1xN broadcast
    (allowlisted BNLJ, the unigram_logprob pattern).  PMI sorts on the
    ROUNDED value with a bigram tiebreak so the top-20 boundary is
    deterministic in both engines."""
    d = table(spark, sf_dir, "documents")
    # byte-small scan (2 splits at sf1) feeding two explode+count
    # corpus passes — the operators/spread.py rule: one keyed exchange
    # of the text (23 MB at sf1) buys session-width compute; no-op on
    # a wide cluster scan.  Same-session sf1 A/B (optimization round
    # 13 continuation): 6.94 -> 5.76s median, tasks 14 -> 90.
    from resotodatalink_spark.operators.spread import spread_partitions

    d = spread_partitions(d, "doc_id")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigram_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = d.select(F.explode(bigram_arr).alias("bigram"))
    tok = d.select(F.explode(toks).alias("tok"))
    # eager on both marginals: n1 is probed by two join arms (w1, w2)
    # and n2 feeds the survivor filter — concurrent AQE stages
    # (round-13 race; A/B sf0.1 1.25 -> 0.96s median)
    n1 = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("n_w"))
        .transform(lambda d: _ckpt(d, eager=True))
    )
    n2 = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n_ab"))
        .transform(lambda d: _ckpt(d, eager=True))
    )
    surv = n2.filter(F.col("n_ab") >= 5).select(
        "bigram",
        "n_ab",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    totals = n1.agg(F.sum("n_w").alias("t_total")).crossJoin(
        n2.agg(F.sum("n_ab").alias("b_total"))
    )
    n1a = n1.select(F.col("tok").alias("w1"), F.col("n_w").alias("n_a"))
    n1b = n1.select(F.col("tok").alias("w2"), F.col("n_w").alias("n_b"))
    # both joins broadcast the SURVIVOR-bounded side into the big vocab
    # frame — never the other way around
    j = n1a.join(F.broadcast(surv), "w1")
    j = n1b.join(F.broadcast(j), "w2").crossJoin(F.broadcast(totals))
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("t_total") * F.col("t_total"))
            / (F.col("b_total").cast("double") * F.col("n_a") * F.col("n_b"))
        ),
        6,
    )
    return (
        j.select("bigram", F.col("n_ab").cast("int").alias("n_ab"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "regex_extract_all",
    oracle="""
    SELECT doc_id,
           array_to_string(regexp_extract_all(text, '[a-z]+a[a-z]*'), ' ')
             AS a_words,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS INTEGER)
             AS n_a_words,
           regexp_extract(text, '([a-z]+)e([a-z]*)', 1) AS first_e_stem
    FROM documents WHERE doc_id < 200
    """,
)
def regex_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern mining over text: ALL matches of a pattern
    (regexp_extract_all — both engines bind the same RE2-compatible
    subset) plus a single-group extract.  Regex evaluation stays in
    codegen on the scan; no explode unless the caller asks for
    one-row-per-match (udtf_tokenize's shape).

    The all-matches array is emitted as a space-joined scalar string
    (``array_join``) rather than a raw ``array<string>`` column: the
    driver's attestation harness canonicalizes result frames with a
    pandas sort that cannot factorize Python lists (the round-7 red
    row), and a delimiter-joined string carries the identical
    information for an order-preserving match list."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    matches = F.regexp_extract_all("text", F.lit("[a-z]+a[a-z]*"), 0)
    return d.select(
        "doc_id",
        F.array_join(matches, " ").alias("a_words"),
        F.size(matches).cast("int").alias("n_a_words"),
        F.regexp_extract("text", "([a-z]+)e([a-z]*)", 1).alias("first_e_stem"),
    )


@query(
    "token_entropy_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           round(ln(CAST(sum(n) AS DOUBLE))
                 - sum(n * ln(CAST(n AS DOUBLE))) / sum(n), 6) AS entropy
    FROM counts GROUP BY source
    """,
)
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon token entropy per source (nats) — the information-
    theoretic corpus diagnostic a data-mixture designer reads next to
    corpus_stats: low entropy flags template/boilerplate-dominated
    sources, high entropy flags noise.  Uses the single-pass identity
    H = ln(T) - sum(n ln n)/T so the per-source probabilities never
    materialize.

    Scale shape: two map-side-combined aggregations — (source, token)
    counts over a vocabulary-bounded key space, then a per-source
    rollup over sources (bounded) — all codegen, no Python, no joins."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    counts = tok.groupBy("source", "tok").agg(F.count("*").alias("n"))
    t = F.sum("n")
    return counts.groupBy("source").agg(
        t.cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        F.round(
            F.log(t.cast("double"))
            - F.sum(F.col("n") * F.log(F.col("n").cast("double"))) / t,
            6,
        ).alias("entropy"),
    )


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             CAST({_score('duck', 'en')} AS INTEGER) AS s_en,
             CAST({_score('duck', 'de')} AS INTEGER) AS s_de,
             CAST({_score('duck', 'fr')} AS INTEGER) AS s_fr,
             CAST({_score('duck', 'es')} AS INTEGER) AS s_es
      FROM documents
    ),
    pred AS (
      SELECT lang, {_pred_case()} AS pred_lang FROM scored
    ),
    joint AS (
      SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 6) AS recall_share
    FROM joint
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape: confusion matrix of the stopword
    language-ID against the labeled ``lang`` column, with per-true-lang
    recall shares — the eval table every heuristic-labeling pipeline
    publishes next to its labels.

    Scale shape: prediction is the same codegen CASE as lang_id (no
    join back — label and features live on the same row, one scan);
    the matrix aggregate is map-side combined over a (langs x langs)
    bounded key space, and the recall window runs over that bounded
    frame, never the corpus."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        *[
            F.expr(_score("spark", lang)).cast("int").alias(f"s_{lang}")
            for lang in STOPWORDS
        ],
    )
    pred = scored.select("lang", F.expr(_pred_case()).alias("pred_lang"))
    joint = pred.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wl = W.partitionBy("lang")
    return joint.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(wl), 6).alias("recall_share"),
    )


@query(
    "mutual_information",
    oracle="""
    WITH joint AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    )
    SELECT lang, source, CAST(n AS BIGINT) AS n,
           round((n * 1.0 / sum(n) OVER ())
                 * ln((CAST(n AS DOUBLE) * sum(n) OVER ())
                      / (CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)
                         * sum(n) OVER (PARTITION BY source))), 6)
             AS mi_contrib
    FROM joint
    """,
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual-information decomposition of the lang x source
    association (sums to the corpus MI) — the dataset-diagnostics
    table that flags a source feeding one language only (leakage /
    sampling-bias signal) before a mixture is trained on.

    Scale shape: ONE corpus-sized map-side-combined count over the
    (langs x sources) bounded key space; all three marginal windows
    run over that bounded aggregate frame (class_rebalance's
    unpartitioned-window-over-aggregate precedent), so the corpus is
    scanned exactly once."""
    d = table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_all = W.partitionBy()
    w_l = W.partitionBy("lang")
    w_s = W.partitionBy("source")
    t = F.sum("n").over(w_all)
    mi = F.round(
        (F.col("n") / t)
        * F.log(
            (F.col("n").cast("double") * t)
            / (F.sum("n").over(w_l).cast("double") * F.sum("n").over(w_s))
        ),
        6,
    )
    return joint.select("lang", "source", "n", mi.alias("mi_contrib"))


@query(
    "winnow_fingerprints",
    oracle=f"""
    WITH {H.duck_shingle_pos_cte("documents", "doc_id", "text", 3)},
    __keyed AS (
      SELECT doc_id, pos,
             h * 1048576 + (1048575 - pos) AS key,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM __hashes
    ),
    __win AS (
      SELECT doc_id, n_grams, pos,
             min(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
             ) AS sel
      FROM __keyed
    ),
    __sel AS (
      SELECT DISTINCT doc_id, n_grams, sel
      FROM __win WHERE pos <= n_grams - 3
    )
    SELECT doc_id,
           CAST(n_grams AS INTEGER) AS n_grams,
           CAST(count(*) AS INTEGER) AS n_fps,
           round(count(*) * 1.0 / n_grams, 6) AS density
    FROM __sel GROUP BY doc_id, n_grams
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): over each window of w=4
    consecutive word-3-gram hashes pick the minimum (rightmost on
    ties); the distinct picks are the document's fingerprints, with
    the guarantee density in [1/w, 2/(w+1)] for random hashes.
    doc_fingerprint keeps global min/max/mix; this is the positional
    selection a plagiarism/overlap index actually stores.

    Cross-engine trick: the (h, rightmost-pos) tie-break is encoded in
    ONE bigint — key = h * 2^20 + (2^20-1 - pos) — so both engines run
    a plain min() window (Spark's struct-min has no DuckDB window
    equivalent).  pos < 2^20 holds for any document this engine chunks
    (text_chunking caps segments long before a million grams).

    Scale shape: one shuffle on doc_id feeds BOTH windows (count and
    the frame min share the sort); the frame is per-document, so the
    state is w rows — no corpus-sized window anywhere."""
    from resotodatalink_spark.operators.dedup import shingle_hashes_pos

    d = table(spark, sf_dir, "documents")
    g = shingle_hashes_pos(d, n=3)
    keyed = g.select(
        "doc_id",
        "pos",
        (F.col("h") * 1048576 + (1048575 - F.col("pos"))).alias("key"),
    ).withColumn("n_grams", F.count("*").over(W.partitionBy("doc_id")))
    win = keyed.withColumn(
        "sel",
        F.min("key").over(
            W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
        ),
    )
    sel = (
        win.filter(F.col("pos") <= F.col("n_grams") - 3)
        .select("doc_id", "n_grams", "sel")
        .distinct()
    )
    return sel.groupBy("doc_id", "n_grams").agg(
        F.count("*").cast("int").alias("n_fps"),
        F.round(F.count("*") / F.col("n_grams"), 6).alias("density"),
    ).select(
        "doc_id",
        F.col("n_grams").cast("int").alias("n_grams"),
        "n_fps",
        "density",
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH counts AS (
      SELECT tok, count(*) AS cnt
      FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
      GROUP BY tok
    ),
    ranked AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
             sum(cnt) OVER (
               ORDER BY cnt DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             sum(cnt) OVER () AS total
      FROM counts
    )
    SELECT CAST(rnk AS INTEGER) AS vocab_size,
           round(cum * 1.0 / total, 6) AS coverage,
           tok AS boundary_token,
           CAST(cnt AS INTEGER) AS boundary_count
    FROM ranked WHERE rnk IN (3, 10, 30)
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: what share of the corpus token mass a
    top-N word vocabulary covers, at N = 3 / 10 / 30 (the coverage
    curve every vocab/BPE sizing decision reads first; checkpoints sized to the synthetic corpus's ~31-word vocabulary).  Deterministic
    rank ties break on the token string.

    Scale shape: the corpus-sized work is ONE map-side-combined token
    count; the ranking/cumsum windows run over the VOCABULARY frame
    (bounded by distinct tokens, not corpus rows).  The unpartitioned
    windows are justified the same way as class_rebalance's: the frame
    is the count table.  At 100 TB with a pathological vocabulary you
    would two-stage the cumsum (per-bucket partials + prefix of bucket
    totals); the plan guard pins today's single-partition window to
    this bounded frame."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    order = [F.desc("cnt"), F.asc("tok")]
    ranked = counts.select(
        "tok",
        "cnt",
        F.row_number().over(W.partitionBy().orderBy(*order)).alias("rnk"),
        F.sum("cnt")
        .over(W.partitionBy().orderBy(*order).rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    return ranked.filter(F.col("rnk").isin(3, 10, 30)).select(
        F.col("rnk").cast("int").alias("vocab_size"),
        F.round(F.col("cum") / F.col("total"), 6).alias("coverage"),
        F.col("tok").alias("boundary_token"),
        F.col("cnt").cast("int").alias("boundary_count"),
    )


_CMS_W = 1024  # counter row width
_CMS_D = 4  # independent hash rows (MINHASH_COEFS[0..3])


def _cms_bucket_sql(h: str, i: int) -> str:
    a, b = H.MINHASH_COEFS[i]
    return f"((({h}) * {a} + {b}) % {H.MOD}) % {_CMS_W}"


@query(
    "cms_frequency_audit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    nz AS (SELECT tok, {H.str_hash_sql('tok')} AS h FROM toks WHERE tok <> ''),
    counters AS (
      SELECT i, bucket, count(*) AS cnt FROM (
        {" UNION ALL ".join(
            f"SELECT {i} AS i, {_cms_bucket_sql('h', i)} AS bucket FROM nz"
            for i in range(_CMS_D)
        )}
      ) GROUP BY i, bucket
    ),
    exact AS (
      SELECT tok, min(h) AS h, count(*) AS exact_n FROM nz GROUP BY tok
      ORDER BY exact_n DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT tok, exact_n, i, {_cms_bucket_sql('h', 0)} AS b0,
             {_cms_bucket_sql('h', 1)} AS b1, {_cms_bucket_sql('h', 2)} AS b2,
             {_cms_bucket_sql('h', 3)} AS b3
      FROM exact, range({_CMS_D}) t(i)
    ),
    est AS (
      SELECT p.tok, p.exact_n, min(c.cnt) AS cms_est
      FROM probes p JOIN counters c
        ON c.i = p.i AND c.bucket = CASE p.i WHEN 0 THEN p.b0 WHEN 1 THEN p.b1
                                             WHEN 2 THEN p.b2 ELSE p.b3 END
      GROUP BY p.tok, p.exact_n
    )
    SELECT tok, CAST(exact_n AS INTEGER) AS exact_n,
           CAST(cms_est AS INTEGER) AS cms_est,
           CAST(cms_est - exact_n AS INTEGER) AS overestimate
    FROM est
    """,
)
def cms_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch calibration (completes the sketch family next
    to KMV, MinHash, SimHash and the Bloom prefilter): build a 4 x 1024
    CMS over the token stream, then report sketch estimate vs exact
    count for the exact top-20 tokens — the overestimate column is the
    collision bias a production heavy-hitter pipeline must budget for
    (CMS never underestimates: est = min over rows of the counter).

    Scale shape: the corpus-sized work is ONE pass emitting 4 (row,
    bucket) pairs per token into a map-side-combined aggregate whose
    state is capped at 4 x 1024 counters per partition — the textbook
    mergeable-sketch shape (counters merge by +).  The probe side is
    the 20-row top-k joined against the bounded counter table."""
    from resotodatalink_spark.operators.spread import spread_partitions

    # byte-small scan (2 splits at sf1) feeding per-token hash chains
    # TWICE (counters + exact top-k): spread to session parallelism
    # (operators/spread.py rule, no-op on a wide scan) and eager-pin
    # the hashed token frame — its two consumers are concurrent AQE
    # stages (the round-13 race).  Same-session sf1 A/B:
    # 10.54 -> 3.43s median (plans/r13/ab_eager_evidence.txt).
    d = spread_partitions(table(spark, sf_dir, "documents"), "doc_id")
    nz = _ckpt(
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("tok", F.expr(H.str_hash_sql("tok")).alias("h")),
        eager=True,
    )
    rows = nz.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(_cms_bucket_sql("h", i)).alias("bucket"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb")
    ).select("rb.i", "rb.bucket")
    counters = rows.groupBy("i", "bucket").agg(F.count("*").alias("cnt"))
    exact = (
        nz.groupBy("tok")
        .agg(F.min("h").alias("h"), F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(20)
    )
    probes = exact.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.expr(_cms_bucket_sql("h", i)).alias("bucket"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("tok", "exact_n", "rb.i", "rb.bucket")
    est = (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("exact_n").cast("int").alias("exact_n"),
        F.col("cms_est").cast("int").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n")).cast("int").alias("overestimate"),
    )


# --- data-mixture divergence: per-source JSD vs the corpus mixture -------


@query(
    "js_divergence_sources",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (
      SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok
    ),
    tot AS (SELECT source, sum(n) AS t FROM cnt GROUP BY source),
    g_cnt AS (SELECT tok, sum(n) AS gn FROM cnt GROUP BY tok),
    g_tot AS (SELECT sum(gn) AS gt FROM g_cnt),
    joined AS (
      SELECT c.source,
             c.n * 1.0 / t.t AS p,
             g.gn * 1.0 / (SELECT gt FROM g_tot) AS q
      FROM cnt c
      JOIN tot t ON c.source = t.source
      JOIN g_cnt g ON c.tok = g.tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS shared_vocab,
           round(0.5 * (sum(p * ln(2 * p / (p + q)))
                        + sum(q * ln(2 * q / (p + q)))
                        + (1 - sum(q)) * ln(2)), 6) AS jsd_nats
    FROM joined GROUP BY source
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the whole-corpus mixture — the drift number a data-mixture
    designer reads before re-weighting sources (low = redundant with
    the mixture, high = distinct dialect/domain).  Closed form used:
    for tokens ABSENT from the source (p=0) the corpus-side integrand
    degenerates to q*ln(2), so the whole tail folds into
    (1 - sum_over_source_tokens(q)) * ln(2) and only the per-source
    vocabulary ever materializes — no full-outer join against the
    global vocabulary.

    Scale shape: (source, token) counts are map-side combined over a
    vocabulary-bounded key space; the global token frame joins back on
    token (both sides vocabulary-bounded, sort-merge-safe); the final
    aggregate is per source (bounded).  JSD sums are order-sensitive
    floats -> round(6) on both sides per the float discipline."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cnt = tok.groupBy("source", "tok").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").alias("t"))
    g_cnt = cnt.groupBy("tok").agg(F.sum("n").alias("gn"))
    gt = g_cnt.agg(F.sum("gn").alias("gt"))
    joined = (
        cnt.join(tot, "source")
        .join(g_cnt, "tok")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            (F.col("n") * 1.0 / F.col("t")).alias("p"),
            (F.col("gn") * 1.0 / F.col("gt")).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("shared_vocab"),
        F.round(
            0.5
            * (
                F.sum(p * F.log(2 * p / (p + q)))
                + F.sum(q * F.log(2 * q / (p + q)))
                + (1 - F.sum(q)) * F.log(F.lit(2.0))
            ),
            6,
        ).alias("jsd_nats"),
    )


# --- retrieval scoring: BM25 over the corpus ------------------------------

# Fixed conjunctive query; one output column per term so the final
# score is a FIXED-ORDER sum of three doubles (bit-identical across
# engines), never a float SUM() whose addend order the engine picks.
_BM25_TERMS = ("join", "vector", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 50


def _bm25_term_sql(term: str) -> str:
    """Per-term BM25 contribution (Lucene/ATIRE idf form) as SQL over
    columns tf_<term>, dl, and scalars n_docs/avgdl/df_<term>."""
    return (
        f"ln((n_docs - df_{term} + 0.5) / (df_{term} + 0.5) + 1.0) * "
        f"(tf_{term} * ({_BM25_K1} + 1.0)) / "
        f"(tf_{term} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )


@query(
    "bm25_scoring",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id,
             {', '.join(f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf_{t}" for t in _BM25_TERMS)},
             count(*) AS dl
      FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             sum(dl) * 1.0 / count(*) AS avgdl,
             {', '.join(f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS)}
      FROM tf
    ),
    scored AS (
      SELECT doc_id,
             round({' + '.join(f'({_bm25_term_sql(t)})' for t in _BM25_TERMS)}, 6)
               AS bm25
      FROM tf, stats
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking of the corpus for a fixed multi-term
    query — the retrieval scorer a RAG/data-curation pipeline runs to
    mine topical documents (Robertson-Sparck Jones idf in the Lucene
    +1 form, k1=1.2, b=0.75).

    Float discipline: tf/dl/df/n_docs are exact integers and avgdl is
    ONE division of exact integers, so each per-term score is the
    identical IEEE op sequence in both engines; the final score adds
    the three term columns in FIXED order (never SUM() over rows,
    whose addend order is engine-chosen) -> bit-identical ranking;
    round(6) only on output.

    Scale shape: one scan explodes tokens into a map-side-combined
    per-doc conditional aggregate (key = doc_id, the natural parquet
    order); the stats frame is ONE ROW, attached by broadcast; top-k
    is TakeOrderedAndProject.  No corpus-sized shuffle other than the
    doc_id combine."""
    d = table(spark, sf_dir, "documents")
    # byte-small scan (14 splits at sf10) holding the whole tokenize+
    # conditional-aggregate pass on 14/32 cores — the spread rule; one
    # 85 MB keyed text exchange buys session width (same-session sf10
    # A/B, optimization round 13 continuation: 2.80 -> 1.73s median
    # warm, tasks 27 -> 81); no-op on a wide cluster scan
    from resotodatalink_spark.operators.spread import spread_partitions

    d = spread_partitions(d, "doc_id")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
        F.count("*").alias("dl"),
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = " + ".join(f"({_bm25_term_sql(t)})" for t in _BM25_TERMS)
    return (
        tf.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(F.expr(score), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


# --- per-source boilerplate/template n-gram mining -------------------------

_BP_N = 5       # word n-gram width
_BP_MIN_DOCS = 3  # template = gram present in >= this many docs of a source


@query(
    "boilerplate_ngrams",
    oracle=f"""
    WITH {H.duck_shingle_cte("documents", "doc_id", "text", _BP_N)},
    grams AS (SELECT DISTINCT doc_id, h FROM __hashes),
    src AS (SELECT doc_id, source FROM documents),
    per_src AS (
      SELECT s.source, g.h, count(*) AS n_docs
      FROM grams g JOIN src s ON g.doc_id = s.doc_id
      GROUP BY s.source, g.h
      HAVING count(*) >= {_BP_MIN_DOCS}
    ),
    totals AS (SELECT source, count(*) AS src_docs FROM src GROUP BY source)
    SELECT p.source, p.h AS gram_h,
           CAST(p.n_docs AS INTEGER) AS n_docs,
           round(p.n_docs * 1.0 / t.src_docs, 6) AS doc_share
    FROM per_src p JOIN totals t ON p.source = t.source
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template/boilerplate detection (the CCNet / C4
    line-dedup idea at n-gram granularity): word 5-grams appearing in
    >= 3 distinct documents OF THE SAME SOURCE are boilerplate
    candidates — headers, footers, navigation chrome, license blurbs —
    reported with their within-source document share so a removal pass
    can threshold on it.  Distinct-per-doc first, so a gram repeated
    inside one doc (dup_span_detect's territory) doesn't fake template
    status.

    Scale shape: shingling is the staged codegen explode
    (operators/dedup.py shape) with ``source`` CARRIED THROUGH the
    explode — one row-local extra column instead of a corpus-sized
    doc_id join to label grams afterwards; distinct (doc, gram,
    source) shuffles once on the gram hash; the per-(source, gram)
    count is map-side-combined and the HAVING bound keeps the output
    to true templates; per-source totals broadcast (bounded source
    vocabulary)."""
    from resotodatalink_spark.functions.hashing import str_hash_sql
    from resotodatalink_spark.operators.spread import spread_partitions

    # byte-small scan feeding 16-term hash chains per 5-gram — spread
    # to session parallelism first (operators/spread.py rule; no-op on
    # a wide cluster scan)
    d = spread_partitions(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", "source", F.split("text", " ").alias("__toks"))
    pos = toks.select(
        "doc_id",
        "source",
        "__toks",
        F.explode(
            F.expr(f"sequence(1, greatest(size(__toks) - {_BP_N - 1}, 1))")
        ).alias("__i"),
    )
    sh = pos.select(
        "doc_id",
        "source",
        F.expr(f"array_join(slice(__toks, __i, {_BP_N}), ' ')").alias("__sh"),
    )
    grams = sh.select(
        "doc_id", "source", F.expr(str_hash_sql("__sh")).alias("h")
    ).distinct()
    per_src = (
        grams.groupBy("source", "h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= _BP_MIN_DOCS)
    )
    totals = d.groupBy("source").agg(F.count("*").alias("src_docs"))
    return (
        per_src.join(F.broadcast(totals), "source")
        .select(
            "source",
            F.col("h").alias("gram_h"),
            F.col("n_docs").cast("int").alias("n_docs"),
            F.round(F.col("n_docs") * 1.0 / F.col("src_docs"), 6).alias(
                "doc_share"
            ),
        )
    )


# --- CCNet-style LM perplexity gate ---------------------------------------

_LM_TOPK = 150


@query(
    "bigram_lm_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    vocab AS (
      SELECT count(DISTINCT {H.str_hash_sql('tok')}) AS v FROM uni
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 1))::BIGINT AS i
      FROM toks WHERE len(t) >= 2
    ),
    big AS (
      SELECT doc_id,
             {H.str_hash_sql("array_to_string(list_slice(t, i, i + 1), ' ')")} AS h,
             {H.str_hash_sql('t[i]')} AS hu
      FROM pos
    ),
    cb AS (SELECT h, count(*) AS cb FROM big GROUP BY h),
    cu AS (SELECT hu, count(*) AS cu FROM big GROUP BY hu),
    terms AS (
      SELECT b.doc_id,
             CAST(floor(ln((c2.cu + v.v) * 1.0 / (c1.cb + 1)) * 1000000
                        + 0.5) AS BIGINT) AS s_micro
      FROM big b
      JOIN cb c1 ON b.h = c1.h
      JOIN cu c2 ON b.hu = c2.hu
      CROSS JOIN vocab v
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(sum(s_micro) * 1.0 / count(*) / 1000000.0, 6) AS xent
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, xent FROM scored
    ORDER BY xent DESC, doc_id LIMIT {_LM_TOPK}
    """,
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model perplexity gate (the CCNet / RefinedWeb idea: a
    cheap LM scores every document, and the tail of the
    cross-entropy distribution is junk — OCR noise, boilerplate soup,
    non-language).  The LM is a corpus-self-trained add-one-smoothed
    bigram model: p(w2|w1) = (c(w1 w2)+1) / (c(w1)+V); a doc's score
    is mean surprisal in nats (xent = perplexity's log), highest-xent
    docs reported first.  Self-training makes the slug fully
    deterministic — no external model artifact.

    Float discipline: per-bigram surprisal ln((cu+V)/(cb+1)) is ONE
    libm call on exact-integer inputs, immediately quantized to
    integer MICRO-NATS (floor(s*1e6+0.5)) — the same
    quantize-then-sum trick as embedding_norm_outliers — so the
    per-doc aggregation is an order-free exact BIGINT sum; a float
    sum over engine-chosen addend order would violate the house rule
    (see bm25_scoring).  xent is one division of identical integers,
    rounded on output; the top-k orders by the rounded value with a
    doc_id tiebreak.

    Scale shape: bigram generation is the staged codegen explode.
    Occurrences collapse to per-doc TYPES first (groupBy (doc, h, hu)
    with multiplicity m — map-side combined), then the corpus-sized
    frame pays exactly ONE equi-join: against the bigram-TYPE table
    (distinct (h, hu), vocabulary-bounded), which carries the LM
    stats pre-joined among small frames (cb per bigram, cu per
    context) and the per-type surprisal already quantized.  The
    original two-joins-over-occurrences formulation measured 50.5s at
    sf1; this one-join form cuts the occurrence frame's shuffle
    passes.  V is a ONE-ROW broadcast onto the type table; per-doc
    sums are exact integer m x s_micro products; the gate output is
    TakeOrdered top-k."""
    from resotodatalink_spark.operators.spread import spread_partitions

    # byte-small scan (2 partitions at sf1) feeding ~60x exploded
    # 16-term hash chains — the operators/spread.py rule: one keyed
    # shuffle of input bytes buys full parallel compute; no-op when
    # the scan is already wide (100 TB)
    d = spread_partitions(table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split("text", " ").alias("__toks"))
    # ONE corpus explode feeds everything: position i <= n-1 emits a
    # bigram row (h, hu); position i == n emits a vocab-only row
    # (h NULL, hu = last token's hash) so the distinct-unigram count V
    # sees every token without a second tokenize pass.  CASE WHEN
    # short-circuits in codegen, so the discarded bigram hash is never
    # computed on the extra row.  Round-10 stage profile motivated
    # this: the plan ran FIVE ~400s-CPU corpus pipelines at sf10 (four
    # un-materialized perdoc consumers + the separate vocab pass); one
    # post-collapse checkpoint + the folded vocab row make it ONE.
    pos = toks.select(
        "doc_id",
        "__toks",
        F.explode(F.expr("sequence(1, size(__toks))")).alias("__i"),
    )
    big = pos.select(
        "doc_id",
        F.when(
            F.col("__i") < F.size("__toks"),
            F.expr(H.str_hash_sql("array_join(slice(__toks, __i, 2), ' ')")),
        ).alias("h"),
        F.expr(H.str_hash_sql("element_at(__toks, __i)")).alias("hu"),
    )
    # EAGER on both: allgrams feeds vocab/perdoc/types and types feeds
    # cb/cu/typed — multi-subtree consumers AQE materializes
    # concurrently, so lazy checkpoints re-derive the corpus explode
    # per consumer (the dsir race, profiled this round).  Same-session
    # sf10 A/B medians 34.4 -> 32.0s and 53.1 -> 49.1s across two
    # sessions, identical 256 MB shuffle (optimization round 13,
    # guide §1.1/§5).
    allgrams = _ckpt(
        big.groupBy("doc_id", "h", "hu").agg(F.count("*").alias("m")),
        eager=True,
    )
    vocab = allgrams.agg(F.countDistinct("hu").alias("v"))
    perdoc = allgrams.filter(F.col("h").isNotNull())
    types = _ckpt(
        perdoc.groupBy("h", "hu").agg(F.sum("m").alias("m_tot")), eager=True
    )
    cb = types.groupBy("h").agg(F.sum("m_tot").alias("cb"))
    cu = types.groupBy("hu").agg(F.sum("m_tot").alias("cu"))
    typed = (
        types.join(cb, "h")
        .join(cu, "hu")
        .crossJoin(F.broadcast(vocab))
        .select(
            "h",
            "hu",
            F.floor(
                F.log((F.col("cu") + F.col("v")) * 1.0 / (F.col("cb") + 1))
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s_micro"),
        )
    )
    return (
        perdoc.join(typed, ["h", "hu"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("m") * F.col("s_micro"))
                * 1.0
                / F.sum("m")
                / 1000000.0,
                6,
            ).alias("xent"),
        )
        .orderBy(F.desc("xent"), "doc_id")
        .limit(_LM_TOPK)
    )


# --- distributed BPE merge training (bpe_pair_stats's iterative half) -----

_BPE_ROUNDS = 6


def _bpe_fold(toks: str, l: str, r: str, dialect: str) -> str:
    """Greedy left-to-right application of merge pair (``l``, ``r``)
    over the token list ``toks``, as a left fold into a chr(31)-joined
    string (re-split by the caller).  The fold IS the standard BPE
    apply: scan left to right, a merge consumes its right token so the
    merged token cannot chain into another merge of the same round
    (['a','a','a'] under (a,a) -> ['aa','a'], not ['aaa']).  The
    last-token test requires the separator right before ``l`` (or acc
    == l), so a token merely ENDING in ``l``'s text never false-merges.
    chr(31) never occurs in tokens: the vocabulary is ^[a-z]+$ words."""
    merge_cond = (
        f"(acc = {l} OR right(acc, length({l}) + 1) = concat(chr(31), {l}))"
        f" AND x = {r}"
    )
    if dialect == "spark":
        body = (
            f"CASE WHEN acc = '' THEN x"
            f" WHEN {merge_cond} THEN concat(acc, x)"
            f" ELSE concat(acc, chr(31), x) END"
        )
        return f"split(aggregate({toks}, '', (acc, x) -> {body}), chr(31))"
    body = (
        f"CASE WHEN {merge_cond} THEN acc || x"
        f" ELSE acc || chr(31) || x END"
    )
    return f"string_split(list_reduce({toks}, (acc, x) -> {body}), chr(31))"


def _bpe_cte_prefix() -> str:
    """Shared CTE chain for the BPE slugs: word counts -> char split ->
    _BPE_ROUNDS rounds of (pair counts, argmax merge, greedy fold).
    The ``word`` column rides through every v_k so the final vocabulary
    (v{_BPE_ROUNDS}) doubles as the word -> tokenization DICTIONARY the
    encode slug joins against."""

    def pairs(v: str) -> str:
        return f"""(
      SELECT p.l, p.r, CAST(sum(c) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(toks)), i ->
                 {{'l': toks[CAST(i AS INT)], 'r': toks[CAST(i AS INT) + 1]}})) AS p,
               cnt AS c
        FROM {v} WHERE len(toks) >= 2
      ) GROUP BY p.l, p.r
    )"""

    sql = """
    WITH w AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    ),
    v0 AS (
      SELECT word,
             list_transform(range(1, length(word) + 1),
                            i -> substring(word, CAST(i AS INT), 1)) AS toks,
             cnt
      FROM w
    )"""
    for k in range(1, _BPE_ROUNDS + 1):
        fold = _bpe_fold("v.toks", "m.l", "m.r", "duck")
        # the ('','',0) sentinel keeps m{k} EXACTLY ONE ROW when the
        # pair frame is empty (merges exhausted): an empty argmax would
        # annihilate v{k} through the cross join and the encode slug
        # would tokenize nothing (caught by the hand-fertility fixture).
        # A real pair (cnt >= 1) always outranks it; the empty-string
        # merge can never fire in the fold (tokens are nonempty).
        # Consumers of the merge TABLE filter mcnt > 0.
        sql += f""",
    p{k} AS {pairs(f'v{k - 1}')},
    m{k} AS (
      SELECT l, r, mcnt FROM (
        SELECT l, r, cnt AS mcnt FROM p{k}
        UNION ALL SELECT '', '', CAST(0 AS BIGINT)
      ) ORDER BY mcnt DESC, l, r LIMIT 1
    ),
    v{k} AS (SELECT v.word, {fold} AS toks, v.cnt AS cnt FROM v{k - 1} v, m{k} m)"""
    return sql


def _bpe_oracle() -> str:
    return _bpe_cte_prefix() + "\n    SELECT * FROM (" + " UNION ALL ".join(
        f"SELECT {k} AS round, l AS left_tok, r AS right_tok, "
        f"l || r AS merged, mcnt AS pair_count FROM m{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    ) + ") WHERE pair_count > 0"


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TRAINING (Sennrich et al. 2016,
    arXiv:1508.07909): learn the first 6 merge rules from the corpus —
    the iterative half of the tokenizer family, where
    ``bpe_pair_stats`` is one round's pair statistics.  Round k counts
    adjacent token pairs over the vocabulary, picks the most frequent
    (ties: lexicographic), applies it greedily left-to-right to every
    word, and repeats; on the shipped corpus the learned table reaches
    multi-character merges (m+er -> 'mer') by round 6.

    Scale shape — the part naive implementations get wrong: BPE trains
    on the (word, count) DICTIONARY, not the raw corpus.  The corpus is
    touched ONCE (a map-side-combined word count); every round after
    that runs on the distinct-word frame, which is sublinear in corpus
    size (zipf: ~100M rows at 100 TB, shuffling megabytes not
    terabytes).  Per round: one pair-count aggregate with a
    TakeOrdered(1) argmax collected to the driver (ONE ROW — the
    bounded-collect pattern) and inlined as string literals in the
    fold, and a checkpoint so round k+1's lineage starts from
    materialized tokens instead of re-deriving k folds (the
    kmeans_lloyd iterative-loop discipline).  The fold lambda is
    interpreted, not codegen (the documented HOF rule,
    functions/vectors.py dot_spark) — acceptable here BECAUSE it runs
    on the bounded vocabulary, never on corpus-sized rows."""
    _, bests = _bpe_learn(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.filter(F.col("mcnt") > 0).select(
        "round",
        F.col("l").alias("left_tok"),
        F.col("r").alias("right_tok"),
        F.concat("l", "r").alias("merged"),
        F.col("mcnt").alias("pair_count"),
    )


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the _BPE_ROUNDS merge-learning loop; return (final vocab
    with the ``word`` column carried — the word -> tokenization
    dictionary — and the per-round one-row argmax frames).  Every
    intermediate is checkpointed: the loop's lineage must truncate or
    round k re-derives every earlier fold ~3^k times."""
    d = table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = _ckpt(
        w.select(
            "word",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("toks"),
            "cnt",
        )
    )
    bests = []
    for k in range(1, _BPE_ROUNDS + 1):
        pairs = (
            vocab.filter(F.size("toks") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(toks) - 1), i -> "
                        "named_struct('l', element_at(toks, i), "
                        "'r', element_at(toks, i + 1)))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("cnt"))
        )
        # the argmax is ONE ROW: collect it (bounded-collect pattern)
        # and inline the winning pair as string literals in the fold —
        # one TakeOrdered job per round, replacing the sentinel-union
        # second TakeOrdered, the one-row checkpoint, and the per-round
        # broadcast stage (optimization round 13, guide §1.3).  Merge
        # exhaustion (empty pair frame) yields the ('', '', 0) sentinel
        # driver-side — same rule as the oracle CTEs: the empty-string
        # merge can never fire in the fold (tokens are nonempty) and
        # consumers of the merge table filter mcnt > 0.  A real pair
        # (cnt >= 1) always outranks the sentinel, so the winner is the
        # same row the union shape picked.
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        l, r, mcnt = (
            (top[0]["l"], top[0]["r"], top[0]["cnt"]) if top else ("", "", 0)
        )
        bests.append(
            spark.createDataFrame(
                [(l, r, int(mcnt))], "l string, r string, mcnt bigint"
            ).withColumn("round", F.lit(k))
        )
        vocab = _ckpt(
            vocab.select(
                "word",
                F.expr(
                    _bpe_fold("toks", f"'{l}'", f"'{r}'", "spark")
                ).alias("toks"),
                "cnt",
            )
        )
    return vocab, bests


_BPE_ENCODE_ORACLE = _bpe_cte_prefix() + f""",
    enc AS (
      SELECT word, CAST(len(toks) AS INTEGER) AS n_tok FROM v{_BPE_ROUNDS}
    ),
    sw AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY source, word
    )
    SELECT sw.source,
           CAST(sum(sw.n) AS BIGINT) AS n_words,
           CAST(sum(sw.n * enc.n_tok) AS BIGINT) AS n_tokens,
           round(CAST(sum(sw.n * enc.n_tok) AS DOUBLE) / sum(sw.n), 6)
             AS fertility
    FROM sw JOIN enc USING (word)
    GROUP BY sw.source
"""


@query("bpe_encode_corpus", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY at corpus scale: encode every document with the
    merges `bpe_train_merges` learned and report per-source token
    counts and fertility (tokens per word) — the metric a training-data
    pipeline watches to budget context windows and spot sources that
    tokenize badly.

    Scale shape — the part a naive implementation gets wrong: the fold
    that applies merges is an interpreted HOF, so it must NEVER run on
    corpus-sized rows.  Production tokenizers cache per-WORD encodings;
    here the word -> tokenization dictionary is the training loop's
    final vocabulary (computed once, `_bpe_learn`), and the corpus side
    collapses to (source, word, count) FIRST — a map-side-combined
    aggregate bounded by vocabulary x sources — before one equi-join
    against the dictionary (no broadcast hint: distinct words grow with
    the corpus).  At 100 TB the only corpus-sized stage is the word
    count; the fold runs on |vocab| rows exactly once."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    enc = vocab.select("word", F.size("toks").cast("int").alias("n_tok"))
    d = table(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )
    j = sw.join(enc, "word")
    return j.groupBy("source").agg(
        F.sum("n").alias("n_words"),
        F.sum(F.col("n") * F.col("n_tok")).alias("n_tokens"),
        F.round(
            F.sum(F.col("n") * F.col("n_tok")).cast("double") / F.sum("n"), 6
        ).alias("fertility"),
    )


# --- positional phrase search (round 11, second wave) ---------------------------------

# Fixed query phrase for the slug (distinct words — the role-CASE
# trick below requires each token to map to exactly one phrase slot).
# Two tokens: on the shipped uniform-vocabulary corpus a trigram
# surfaces only ~3-25 matches per SF (27k-point trigram space), too
# thin an attestation; the bigram keeps 30-320 matched docs at every
# shipped SF while exercising the identical role-vote plan.
_PHRASE = ("order", "scan")


def _phrase_role(tok: str) -> str:
    """Dialect-neutral CASE mapping a phrase token to its slot index."""
    arms = " ".join(
        f"WHEN '{w}' THEN {i}" for i, w in enumerate(_PHRASE)
    )
    return f"CASE {tok} {arms} ELSE -1 END"


@query(
    "phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t)))::BIGINT AS pos, t
      FROM toks
    ),
    rel AS (
      SELECT doc_id,
             pos - ({_phrase_role('t[pos]')}) AS start,
             {_phrase_role('t[pos]')} AS role
      FROM pos WHERE t[pos] IN ({', '.join(repr(w) for w in _PHRASE)})
    ),
    hits AS (
      SELECT doc_id, start FROM rel GROUP BY doc_id, start
      HAVING count(DISTINCT role) = {len(_PHRASE)}
    )
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matches,
           CAST(min(start) AS INTEGER) AS first_pos
    FROM hits GROUP BY doc_id
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase match over the corpus via POSITIONAL POSTINGS — the
    distributed-grep / inverted-index primitive (Zobel & Moffat, ACM
    CS 2006 §4.2: phrase queries resolve by intersecting positional
    posting lists).  Returns per-doc match count and the first match's
    1-based token position for the fixed phrase.

    Scale shape — NO self-join: the textbook plan intersects one
    posting list per phrase term (k-1 joins); here each matched token
    instead votes for the phrase-START slot it implies (pos - role),
    and a start position where all k distinct roles voted is a match.
    One explode -> highly-selective token filter (only phrase words
    survive to the shuffle) -> ONE map-side-combined groupBy on
    (doc_id, start) -> per-doc rollup.  At 100 TB the shuffled volume
    is the phrase terms' posting mass, same as the join plan's
    smallest input, with one exchange instead of k-1.  Requires
    distinct phrase words (each token maps to one role); repeated-word
    phrases would fall back to the posting-join plan."""
    d = table(spark, sf_dir, "documents")
    role = _phrase_role("tok")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
    )
    rel = toks.filter(F.col("tok").isin(*_PHRASE)).select(
        "doc_id",
        (F.col("p0") + 1 - F.expr(role)).alias("start"),
        F.expr(role).alias("role"),
    )
    hits = (
        rel.groupBy("doc_id", "start")
        .agg(F.countDistinct("role").alias("nr"))
        .filter(F.col("nr") == len(_PHRASE))
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_matches"),
        F.min("start").cast("int").alias("first_pos"),
    )


# --- heavy-hitters shard-recall audit ------------------------------------

_HH_GLOBAL_K = 20
_HH_SHARD_K = 5


@query(
    "heavy_hitters_audit",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    st AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2),
    gt AS (SELECT tok, CAST(sum(n) AS BIGINT) AS n FROM st GROUP BY tok),
    top AS (
      SELECT tok, n, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
        FROM gt) r WHERE rnk <= {_HH_GLOBAL_K}),
    cand AS (
      SELECT tok, CAST(sum(n) AS BIGINT) AS est_n FROM (
        SELECT tok, n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n DESC, tok) AS r
        FROM st) s WHERE r <= {_HH_SHARD_K} GROUP BY tok)
    SELECT top.tok, top.n, top.rnk,
           CAST(coalesce(cand.est_n, 0) AS BIGINT) AS est_n,
           CASE WHEN cand.tok IS NULL THEN 0 ELSE 1 END AS recovered
    FROM top LEFT JOIN cand ON top.tok = cand.tok
    ORDER BY top.rnk
    """,
)
def heavy_hitters_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded heavy-hitter recall audit: the practical distributed
    top-k pattern keeps only each shard's local top-k' as candidates
    (one pass, mergeable, bounded state — the declarative,
    order-independent cousin of a Misra-Gries summary), and this
    audit measures what that approximation loses against the exact
    global top-k.  Per exact-top-{_HH_GLOBAL_K} token: the one-pass
    candidate estimate est_n (counts summed ONLY over shards where
    the token made the shard's top-{_HH_SHARD_K} — undercounted
    whenever a heavy token runs thin in some shard) and a recovered
    flag (0 = the token missed EVERY shard's top-k', the failure mode
    of a token spread uniformly thin; corpus tokens are near-uniform
    so this branch is fixture-attested in tests).

    Scale shape: explode feeds a map-side-combined (source, tok)
    count; the global count re-aggregates that frame (no second
    scan); global top-k is TakeOrderedAndProject (per-partition heaps,
    never a global window over the vocabulary — frequent_terms'
    pattern); shard top-k' is a window partitioned by source; the
    final join keys the 20-row frame against the candidate frame
    already partitioned by tok.  The (source, tok) collapse is
    checkpointed so the global re-aggregate and the shard window both
    read it without re-running the explode scan."""
    d = table(spark, sf_dir, "documents")
    st = _ckpt(
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    gt = st.groupBy("tok").agg(F.sum("n").alias("n"))
    top20 = gt.orderBy(F.desc("n"), F.asc("tok")).limit(_HH_GLOBAL_K)
    top = top20.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc("tok")))
        .cast("int"),
    )
    shard_w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    cand = (
        st.withColumn("r", F.row_number().over(shard_w))
        .filter(F.col("r") <= _HH_SHARD_K)
        .groupBy("tok")
        .agg(F.sum("n").alias("est_n"))
    )
    return (
        top.join(cand, "tok", "left")
        .select(
            "tok",
            "n",
            "rnk",
            F.coalesce("est_n", F.lit(0)).cast("long").alias("est_n"),
            F.when(F.col("est_n").isNull(), 0).otherwise(1).alias("recovered"),
        )
        .orderBy("rnk")
    )


# --- Kneser-Ney bigram LM -------------------------------------------------

_KN_TOP = 20


@query(
    "kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(1, len(t)))::BIGINT AS i
      FROM toks),
    big AS (
      SELECT tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM pos QUALIFY w2 IS NOT NULL),
    cb AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    left_m AS (
      SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM cb GROUP BY w1),
    right_m AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY w2),
    tt AS (SELECT count(*) AS t FROM cb),
    top AS (
      SELECT w1, w2, c12 FROM cb ORDER BY c12 DESC, w1, w2
      LIMIT {_KN_TOP})
    SELECT top.w1, top.w2, top.c12,
           CAST(left_m.c1 AS BIGINT) AS c1,
           CAST(left_m.n1f AS BIGINT) AS n1f,
           CAST(right_m.n1b AS BIGINT) AS n1b,
           round((greatest(4 * top.c12 - 3, 0) * tt.t
                  + 3 * left_m.n1f * right_m.n1b) * 1.0
                 / (4 * left_m.c1 * tt.t), 9) AS p_kn
    FROM top JOIN left_m USING (w1) JOIN right_m USING (w2)
             CROSS JOIN tt
    ORDER BY top.c12 DESC, top.w1, top.w2
    """,
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen
    & Goodman 1999 — THE n-gram smoothing), the quality sibling to
    bigram_lm_perplexity's add-one baseline: p(w2|w1) =
    max(c12-d,0)/c1 + d*n1+(w1,.)/c1 * n1+(.,w2)/T, where the
    continuation weight counts bigram TYPES, so "Francisco" (frequent
    but only ever after "San") scores low as a continuation.  Reports
    the corpus's top-20 bigrams with their count/continuation
    marginals and the KN probability.

    Float discipline: with d = 3/4 the whole probability is ONE
    division of exact integers — p = (max(4*c12-3,0)*T +
    3*n1f*n1b) / (4*c1*T) — so both engines compute the identical
    double with no libm call at all.

    Scale shape: the adjacency pairing is built inside each
    document's token array before the explode (no window, no
    exchange); the bigram-type collapse is checkpointed and ALL
    marginals (left context mass, forward / backward continuation
    type counts, the one-row type total) derive from that bounded
    frame; top-k is TakeOrderedAndProject; the
    one-row total attaches via broadcast crossJoin (CARTESIAN_OK)."""
    d = table(spark, sf_dir, "documents")
    # Adjacency built IN-ARRAY before the explode (the bigram_lm
    # staging), not via a lead window: the window form shuffled the
    # ENTIRE exploded token stream (311 MB at sf10, stage-1 exchange)
    # and paid a full per-doc sort just to pair neighbors that sit
    # next to each other in the split array already.  Same pairs,
    # same counts — lead over (doc_id, i) is exactly element_at(a, i)
    # / element_at(a, i+1) within one document (guide §2.4, remove
    # shuffles outright).  Same-session sf10 A/B (optimization round
    # 13 continuation): shuffle 398.8 -> 160.5 MB (-60%), walls
    # pairwise no worse; the Window node is gone from the full-tree
    # plan (plans/r13/kneser_ney_bigram_arraypair_*).
    #
    # NO spread_partitions here (optimization round 14, r13 verdict
    # item 4 — the slug's sf10 inverse scaling, c8 3.25s < c32 6.63s):
    # after the in-array pairing the only work left before the type
    # collapse is split+element_at — too cheap to buy back a full
    # text-byte exchange.  The spread no-oped at c8 (14-split scan
    # >= 8 cores), so c8 was measuring the SPREAD-FREE plan; removing
    # it gives every width the cheaper plan.  Same-session alternating
    # A/B medians, spread vs none: sf0.1 1.40 -> 1.05s, sf1 3.71 ->
    # 2.71s, sf10 4.55 -> 2.37s with shuffle 160.5 -> 2.7 MB (the
    # exchange WAS the spread; /tmp/ab_r14.py kneser_spread*).  The
    # contrast with bigram_lm_perplexity (spread KEPT, 72 vs 132s at
    # sf10) is the per-row work: its 2x16-op hash chains + the
    # allgrams aggregate ride the spread exchange (subset rule),
    # while kneser's type collapse pays its own tiny (w1, w2) one
    # either way.
    arr = d.select(F.split("text", " ").alias("a"))
    pos = arr.filter(F.size("a") >= 2).select(
        "a",
        F.explode(F.expr("sequence(1, size(a) - 1)")).alias("i"),
    )
    big = pos.select(
        F.element_at("a", F.col("i")).alias("w1"),
        F.element_at("a", F.col("i") + 1).alias("w2"),
    )
    cb = _ckpt(big.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    left_m = cb.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    right_m = cb.groupBy("w2").agg(F.count("*").alias("n1b"))
    tt = cb.agg(F.count("*").alias("t"))
    top = cb.orderBy(F.desc("c12"), "w1", "w2").limit(_KN_TOP)
    num = (
        F.greatest(4 * F.col("c12") - 3, F.lit(0)) * F.col("t")
        + 3 * F.col("n1f") * F.col("n1b")
    )
    return (
        top.join(left_m, "w1")
        .join(right_m, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c1").cast("long").alias("c1"),
            F.col("n1f").cast("long").alias("n1f"),
            F.col("n1b").cast("long").alias("n1b"),
            F.round(
                num * 1.0 / (4 * F.col("c1") * F.col("t")), 9
            ).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
    )


# MLM masking-plan audit: the mask decision is a pure function of
# (doc_id, position, token) via the portable polynomial hash + spread,
# so both engines select the SAME 15% and the plan is reproducible
# across reruns/engines (the property a masking plan must have for
# resumable preprocessing).  doc_id|pos lead the key because str_hash
# mixes the first 16 chars + length — a token-led key would let long
# tokens alias across positions.
_MLM_RATE_PCT = 15


def _mlm_selected(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    key = (
        f"concat(CAST(doc_id AS {cast}), '|', CAST(pos AS {cast}), '|', tok)"
    )
    return f"({H.spread_sql(H.str_hash_sql(key))}) % 100 < {_MLM_RATE_PCT}"


@query(
    "mlm_masking_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN {_mlm_selected('duck')} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_masked,
           round(sum(CASE WHEN {_mlm_selected('duck')} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS mask_rate
    FROM toks GROUP BY source
    """,
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-LM masking-plan audit: deterministically select ~15% of
    token positions via the shared polynomial hash (a pure function of
    doc_id/position/token — the reproducibility property a masking
    plan needs so a resumed or re-sharded preprocessing job masks the
    SAME positions), then report per-source token counts, masked
    counts, and the realized mask rate (drift from the nominal 15%
    flags hash-input skew).

    Scale shape: one posexplode of the whitespace split (the staged
    explode-then-project form — hash expressions stay in whole-stage
    codegen, never inside interpreted lambdas), one map-side-combined
    aggregate to the source-bounded output frame.  No joins, no
    windows; at 100 TB this is scan-speed.  Exact integer counts until
    the ONE rate division (round 6)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    sel = F.expr(_mlm_selected("spark"))
    masked = F.sum(F.when(sel, 1).otherwise(0))
    return toks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        masked.cast("long").alias("n_masked"),
        F.round(masked * 1.0 / F.count("*"), 6).alias("mask_rate"),
    )


# --- per-language term lift --------------------------------------------------

_LIFT_MIN_SUPPORT = 5
_LIFT_TOP_K = 3


@query(
    "term_lift_by_lang",
    oracle=f"""
    WITH lt AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    n_lt AS (
      SELECT lang, tok, count(*) AS n_lt FROM lt GROUP BY lang, tok
    ),
    n_t AS (SELECT tok, sum(n_lt) AS n_t FROM n_lt GROUP BY tok),
    n_l AS (SELECT lang, sum(n_lt) AS n_l FROM n_lt GROUP BY lang),
    total AS (SELECT sum(n_lt) AS big_n FROM n_lt),
    lifted AS (
      SELECT x.lang, x.tok, CAST(x.n_lt AS BIGINT) AS n_lt,
             CAST(x.n_lt * t.big_n AS BIGINT) * 1.0
               / CAST(n_t.n_t * n_l.n_l AS BIGINT) AS lift
      FROM n_lt x
      JOIN n_t ON n_t.tok = x.tok
      JOIN n_l ON n_l.lang = x.lang
      CROSS JOIN total t
      WHERE x.n_lt >= {_LIFT_MIN_SUPPORT}
    )
    SELECT lang, tok, n_lt, lift FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY lift DESC, tok) AS rn
      FROM lifted
    ) r WHERE rn <= {_LIFT_TOP_K}
    """,
)
def term_lift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language term lift — P(token|lang) / P(token), the
    association score that surfaces the tokens most over-represented
    in each language slice (the corpus-segmentation twin of
    mutual_information's grid view; a lift far above 1 with real
    support marks slice-specific vocabulary, the signal language-ID
    word lists and contamination probes are mined from).

    Float discipline: lift = (n_lt * N) / (n_t * n_l) — both products
    exact int64 (headroom to ~3e9 tokens; past that swap to the
    fixed-tree double-product form, still deterministic because no
    reassociation happens inside a single expression tree) and ONE
    correctly-rounded division, so scores and the per-lang top-3
    ordering are bit-identical across engines; ties break on token.

    Scale shape: ONE corpus pass into the map-side-combined
    (lang, tok) frame (checkpointed — three downstream reads); the
    marginals and the lift join all run on that VOCABULARY-bounded
    frame, the corpus total attaches as a 1-row broadcast crossJoin
    (unigram_logprob's constant-append pattern), and the top-k window
    partitions on lang over the bounded frame."""
    d = table(spark, sf_dir, "documents")
    n_lt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n_lt"))
        .transform(_ckpt)
    )
    n_t = n_lt.groupBy("tok").agg(F.sum("n_lt").alias("n_t"))
    n_l = n_lt.groupBy("lang").agg(F.sum("n_lt").alias("n_l"))
    total = n_lt.agg(F.sum("n_lt").alias("big_n"))
    lifted = (
        n_lt.filter(F.col("n_lt") >= _LIFT_MIN_SUPPORT)
        .join(n_t, "tok")
        .join(n_l, "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "tok",
            F.col("n_lt").cast("long").alias("n_lt"),
            (
                (F.col("n_lt") * F.col("big_n")).cast("long") * F.lit(1.0)
                / (F.col("n_t") * F.col("n_l")).cast("long")
            ).alias("lift"),
        )
    )
    w = W.partitionBy("lang").orderBy(F.desc("lift"), F.asc("tok"))
    return (
        lifted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LIFT_TOP_K)
        .select("lang", "tok", "n_lt", "lift")
    )


# --- sequence-length planning: pow2 token-length histogram -----------------


@query(
    "tokens_per_doc_histogram",
    oracle="""
    WITH toks AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    bucketed AS (
      SELECT source,
             (CAST(1 AS BIGINT) << (length(bin(n_tokens)) - 1)) AS bucket_lo,
             n_tokens
      FROM toks
    ),
    hist AS (
      SELECT source, bucket_lo,
             count(*) AS n_docs, sum(n_tokens) AS tok_total
      FROM bucketed GROUP BY 1, 2
    )
    SELECT source, bucket_lo,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(tok_total AS BIGINT) AS tok_total,
           CAST(sum(n_docs) OVER (
             PARTITION BY source ORDER BY bucket_lo
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_docs,
           CAST(sum(n_docs) OVER (
             PARTITION BY source ORDER BY bucket_lo
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY source) AS cum_share
    FROM hist
    """,
)
def tokens_per_doc_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram per source with the
    cumulative document share — the sequence-length planning pass that
    picks max_seq_len / packing buckets for a training run (what share
    of documents fit in 256, 512, 1024 tokens, per source).

    The bucket is computed in EXACT integer arithmetic — floor(log2)
    via the binary-string length (length(bin(n)) - 1) and the bucket
    floor via a left shift — no libm, so no boundary-value drift
    between engines at exact powers of two.  The one division (the
    cumulative share) divides two exact int64 counts.

    Scale shape: scan -> map-side-combined (source, bucket) counts ->
    windows over the bounded histogram frame (sources x ~12 pow2
    buckets).  At 100 TB the only corpus-sized stage is the first
    aggregate; the whitespace token count never leaves the scan
    projection."""
    d = table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    bucketed = d.select(
        "source",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens)) - 1)"
        ).alias("bucket_lo"),
        "n_tokens",
    )
    hist = bucketed.groupBy("source", "bucket_lo").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tok_total")
    )
    wc = (
        W.partitionBy("source")
        .orderBy("bucket_lo")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("source")
    return hist.select(
        "source",
        "bucket_lo",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tok_total").cast("long").alias("tok_total"),
        F.sum("n_docs").over(wc).cast("long").alias("cum_docs"),
        (
            F.sum("n_docs").over(wc).cast("double")
            / F.sum("n_docs").over(wall)
        ).alias("cum_share"),
    )


# --- Zipf-fit audit ----------------------------------------------------------

_ZIPF_TOP = 256  # head ranks fitted; the tail's count-1 plateau is off-model


@query(
    "zipf_fit_audit",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, tok) AS rnk
      FROM counts
    ),
    logs AS (
      SELECT source,
             CAST(round(ln(rnk) * 1000000) AS BIGINT) AS lx,
             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS ly
      FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ),
    sums AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_ranks,
             CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM logs GROUP BY source
    )
    SELECT source, n_ranks,
           round(CAST(CAST(n_ranks AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / nullif(CAST(CAST(n_ranks AS DECIMAL(38,0)) * sxx
                               - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE),
                          0), 6) AS zipf_slope,
           round(CAST(CAST(sxx AS DECIMAL(38,0)) * sy
                      - CAST(sx AS DECIMAL(38,0)) * sxy AS DOUBLE)
                 / nullif(CAST((CAST(n_ranks AS DECIMAL(38,0)) * sxx
                                - CAST(sx AS DECIMAL(38,0)) * sx)
                               * 1000000 AS DOUBLE), 0), 6) AS zipf_intercept
    FROM sums ORDER BY source
    """,
)
def zipf_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: least-squares slope/intercept of
    ln(count) against ln(rank) over the top-256 term ranks — the
    corpus-health check that a natural-language source shows slope
    near -1 while machine-generated or template text shows a flat or
    cliff-shaped curve (Zipf 1949; the standard pretraining-corpus
    triage stat).

    Float discipline: ln() is called only on the EXACT integers rank
    and count and its value is immediately quantized to a 1e-6-scaled
    BIGINT, so every sum (sx, sy, sxy, sxx) is exact integer
    arithmetic — order-independent across partitionings and engines.
    The closed-form numerators/denominators are computed in
    DECIMAL(38,0) (n*sxy overflows int64 at 256 ranks), then ONE
    division per output column maps them to doubles (round 6); the
    intercept's 1e6 descale rides the same division's denominator.

    Scale shape: scan -> explode -> map-side-combined (source, token)
    counts -> a rank window whose `rnk <= 256` filter compiles to
    WindowGroupLimit with a PARTIAL pass BEFORE the source shuffle
    (verified in the physical plan), so each map task forwards at
    most 256 rows per source and the window partition holds
    256 x n_tasks rows — bounded regardless of vocabulary size -> a
    source-bounded closed-form projection.  No corpus-sized window,
    no join."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    wr = W.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("tok"))
    logs = (
        counts.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _ZIPF_TOP)
        .selectExpr(
            "source",
            "CAST(round(ln(rnk) * 1000000) AS BIGINT) AS lx",
            "CAST(round(ln(cnt) * 1000000) AS BIGINT) AS ly",
        )
    )
    sums = logs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_ranks"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
    )
    return sums.selectExpr(
        "source",
        "n_ranks",
        """round(CAST(CAST(n_ranks AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / nullif(CAST(CAST(n_ranks AS DECIMAL(38,0)) * sxx
                               - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE),
                          0), 6) AS zipf_slope""",
        """round(CAST(CAST(sxx AS DECIMAL(38,0)) * sy
                      - CAST(sx AS DECIMAL(38,0)) * sxy AS DOUBLE)
                 / nullif(CAST((CAST(n_ranks AS DECIMAL(38,0)) * sxx
                                - CAST(sx AS DECIMAL(38,0)) * sx)
                               * 1000000 AS DOUBLE), 0), 6) AS zipf_intercept""",
    ).orderBy("source")


# --- T5-style span-corruption plan -------------------------------------------

# Span starts are every-3rd token position; 3-of-20 start selection *
# span length 3 => a 15% nominal corruption rate (the T5 default).  The
# hash key is doc_id|pos -- a pure function of document identity and
# position, so a resumed or re-sharded job plans the SAME spans
# (mlm_masking_plan's reproducibility property, lifted to spans).
_SPAN_LEN = 3
_SPAN_SEL_NUM = 3
_SPAN_SEL_DEN = 20


def _span_selected(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    key = f"concat(CAST(doc_id AS {cast}), '|', CAST(pos AS {cast}), '|s')"
    return (
        f"({H.spread_sql(H.str_hash_sql(key))}) % {_SPAN_SEL_DEN}"
        f" < {_SPAN_SEL_NUM}"
    )


@query(
    "span_corruption_plan",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    starts AS (
      SELECT doc_id, source, n_tok,
             unnest(generate_series(0, n_tok - 1, {_SPAN_LEN})) AS pos
      FROM docs
    ),
    marked AS (
      SELECT source,
             least({_SPAN_LEN}, n_tok - pos) AS covered,
             CASE WHEN {_span_selected('duck')} THEN 1 ELSE 0 END AS sel
      FROM starts
    )
    SELECT source,
           CAST(sum(covered) AS BIGINT) AS n_tokens,
           CAST(sum(sel) AS BIGINT) AS n_spans,
           CAST(sum(sel * covered) AS BIGINT) AS n_corrupted,
           round(sum(sel * covered) * 1.0 / sum(covered), 6)
             AS corruption_rate
    FROM marked GROUP BY source ORDER BY source
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan audit: deterministically select
    ~15% of each document's tokens as length-3 corruption spans (span
    starts on every-3rd position, 3-of-20 hash-selected — one sentinel
    per span, the T5 denoising objective's preprocessing step) and
    report per-source token/span/corrupted counts and the realized
    rate.  Spans never overlap by construction (starts are multiples
    of the span length); a span at the document tail corrupts only the
    tokens that exist (least(3, n_tok - pos)).

    mlm_masking_plan's sibling: same shared polynomial hash, but the
    plan explodes only the CANDIDATE START positions (an integer
    sequence, one row per 3 tokens) instead of the tokens themselves —
    no token strings are shuffled at all.  Because the candidate spans
    TILE each document exactly, sum(least(3, n_tok - pos)) over all
    starts reproduces the token total, so one conditional aggregate
    per source answers everything — the initial draft's per-doc left
    join (to preserve zero-span docs) was dead weight and a second
    corpus scan; zero-span docs simply contribute sel = 0 rows.
    Exact integer counts until the ONE rate division (round 6).

    Scale shape: ONE scan (projecting doc_id/source/token-count only)
    -> bounded sequence explode (n/3 rows) -> hash selection as a
    projected 0/1 column -> ONE map-side-combined aggregate keyed on
    the vocabulary-bounded source.  No join, no broadcast, nothing
    corpus-sized past the explode."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    starts = d.select(
        "doc_id",
        "source",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(_SPAN_LEN))
        ).alias("pos"),
    )
    marked = starts.select(
        "source",
        F.least(F.lit(_SPAN_LEN), F.col("n_tok") - F.col("pos")).alias(
            "covered"
        ),
        F.when(F.expr(_span_selected("spark")), 1).otherwise(0).alias("sel"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.sum("covered").cast("long").alias("n_tokens"),
            F.sum("sel").cast("long").alias("n_spans"),
            F.sum(F.col("sel") * F.col("covered"))
            .cast("long")
            .alias("n_corrupted"),
            F.round(
                F.sum(F.col("sel") * F.col("covered"))
                * 1.0
                / F.sum("covered"),
                6,
            ).alias("corruption_rate"),
        )
        .orderBy("source")
    )
