"""Dedup slugs over the ``documents`` table, each oracle-verified.

The DuckDB oracles compute the SAME portable hash (functions/hashing.py
fragments are dialect-shared), so the full shingle->hash->signature->
pair pipeline is value-checked, not just row-counted.  The oracle side
may use O(n^2) joins — it's a correctness spec; the Spark side uses the
scalable bucket-join formulations (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resotodatalink_spark.functions import hashing as H
from resotodatalink_spark.operators import dedup as D
from resotodatalink_spark.registry import query
from resotodatalink_spark.sources.tables import table

_SHINGLE_CTE = H.duck_shingle_cte("documents", "doc_id", "text", 3)
_MINS = ", ".join(f"min({H.minhash_sql('h', i)}) AS m{i}" for i in range(H.N_MINHASH))
_BAND_COND = " OR ".join(
    f"(a.m{2 * i} = b.m{2 * i} AND a.m{2 * i + 1} = b.m{2 * i + 1})"
    for i in range(H.N_BANDS)
)
_AGREE = " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(H.N_MINHASH)
)


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(substring(text, 1, 80)) AS content_hash,
           min(doc_id) AS doc_id,
           CAST(count(*) AS INTEGER) AS n_dupes
    FROM documents GROUP BY md5(substring(text, 1, 80))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (md5 of the canonical prefix):
    survivor = min doc_id per hash — one hash-shuffle, fully parallel."""
    d = table(spark, sf_dir, "documents")
    return D.exact_dedup(d, F.md5(F.substring("text", 1, 80)))


@query(
    "dedup_minhash",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({_AGREE} AS INTEGER) AS n_common
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_BAND_COND})
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: 16 permutations, 8 bands of 2,
    band-bucket equi-join; n_common/16 estimates Jaccard.  The oracle's
    O(n^2) OR-join is the semantic spec of the same pair set."""
    d = table(spark, sf_dir, "documents")
    return D.minhash_pairs_with_agreement(d)


_SIMHASH_HH = H.spread_sql(H.str_hash_sql("tok"))
_SIMHASH_SUMS = ", ".join(
    f"sum({H.bit_sql('hh', j, 'duck')}) AS c{j}" for j in range(16)
)
_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN 2 * c{j} >= n THEN {1 << j} ELSE 0 END)" for j in range(16)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hh AS (SELECT doc_id, {_SIMHASH_HH} AS hh FROM toks),
    votes AS (SELECT doc_id, {_SIMHASH_SUMS}, count(*) AS n FROM hh GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 16-bit frequency-weighted signature, pairs at
    hamming <= 1 found via pigeonhole block join (2 blocks of 8 bits)."""
    d = table(spark, sf_dir, "documents")
    sig = D.simhash_signatures(d)
    return D.simhash_pairs(sig, max_hamming=1)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    g AS (SELECT DISTINCT doc_id, h FROM __hashes),
    sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
               FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, c * 1.0 / (sa.sz + sb.sz - c) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.5 via inverted-index join."""
    d = table(spark, sf_dir, "documents")
    return D.jaccard_pairs(d, threshold=0.5)


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    g AS (SELECT DISTINCT doc_id, h FROM __hashes),
    sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
               FROM g a JOIN g b ON a.h = b.h AND a.doc_id <> b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, c * 1.0 / sa.sz AS containment
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    WHERE c * 1.0 / sa.sz >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment pairs C(a in b) = |A∩B|/|A| >= 0.6: the
    asymmetric relation (quotes, supersets, boilerplate wrappers) that
    symmetric Jaccard underestimates — pipelines drop doc_a, the
    contained side.  Same inverted-index join shape as
    dedup_ngram_jaccard with the one-sided size prune."""
    d = table(spark, sf_dir, "documents")
    return D.containment_pairs(d, threshold=0.6)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip().rstrip()},
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_BAND_COND})
      WHERE ({_AGREE}) >= 8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over VERIFIED MinHash
    pairs (>= 8/16 agreeing hashes, est. Jaccard >= 0.5) — the step
    that turns pair lists into keep/drop decisions.  Verification
    before clustering is what keeps components honest at scale: raw
    band collisions grow ~n^2 x P(band) and chain unrelated docs into
    giant components (measured 40x slower and semantically wrong at
    sf0.1).  Spark: iterative min-label propagation (one join per
    round, O(diameter) rounds); oracle: recursive CTE closure."""
    d = table(spark, sf_dir, "documents")
    verified = D.minhash_pairs_with_agreement(d).filter(F.col("n_common") >= 8)
    return D.connected_components(verified)


_QUALITY_CTE = """
    quality AS (
      SELECT doc_id,
             round(0.6 * least((length(text) - (len(string_split(text, ' ')) - 1))
                               * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0)
                   + 0.4 * (1.0 - len(regexp_extract_all(text, '[0-9]'))
                            * 1.0 / length(text)), 6) AS quality
      FROM documents
    )
"""


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE.strip().rstrip()},
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_BAND_COND})
      WHERE ({_AGREE}) >= 8
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
    ),
    clusters AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    ),
    {_QUALITY_CTE.strip()}
    SELECT c.doc_id, c.cluster_id, q.quality,
           CAST(row_number() OVER (PARTITION BY c.cluster_id
                                   ORDER BY q.quality DESC, c.doc_id) = 1
                AS INTEGER) AS is_survivor
    FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop DECISION a dedup pipeline actually ships: near-dup
    clusters (verified MinHash pairs -> connected components) joined
    with the quality score, survivor = best quality per cluster (doc_id
    tiebreak).  One window over the cluster id after the clustering —
    no extra shuffle beyond what clustering already did."""
    from pyspark.sql import Window as W

    from resotodatalink_spark.queries.text import quality_score

    d = table(spark, sf_dir, "documents")
    verified = D.minhash_pairs_with_agreement(d).filter(F.col("n_common") >= 8)
    clusters = D.connected_components(verified)
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    joined = clusters.join(q, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return joined.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).cast("int").alias("is_survivor"),
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id)
    SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
           CAST({_AGREE} AS INTEGER) AS n_common
    FROM sig a JOIN sig b
      ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 AND ({_BAND_COND})
    WHERE ({_AGREE}) >= 8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW BATCH
    (doc_id % 10 == 0 here; in production, today's crawl) checked
    against the EXISTING CORPUS without ever re-pairing the corpus with
    itself.  Batch band rows equi-join corpus band rows
    (operators/dedup.py minhash_pairs_between), so each increment costs
    O(batch + collisions) however large the corpus is; with signatures
    persisted (they are one narrow row per doc), the corpus side is a
    plain scan of that narrow table.  Verified pairs (>= 8/16
    agreeing hashes, est. Jaccard >= 0.5) are the batch docs to drop or
    cluster with their corpus twins."""
    d = table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(d)
    batch = sig.filter(F.col("doc_id") % 10 == 0)
    corpus = sig.filter(F.col("doc_id") % 10 != 0)
    cand = D.minhash_pairs_between(batch, corpus)
    sa = sig.select(
        F.col("doc_id").alias("batch_doc"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(H.N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("corpus_doc"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(H.N_MINHASH)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(H.N_MINHASH)
    )
    return (
        cand.withColumnRenamed("doc_a", "batch_doc")
        .withColumnRenamed("doc_b", "corpus_doc")
        .join(sa, "batch_doc")
        .join(sb, "corpus_doc")
        .select("batch_doc", "corpus_doc", agree.cast("int").alias("n_common"))
        .filter(F.col("n_common") >= 8)
    )


@query(
    "dedup_paragraph",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(t[(i*20+1):(i*20+20)], ' ') AS chunk_text
      FROM toks,
           LATERAL (SELECT unnest(generate_series(
             0, CAST((len(t) + 19) // 20 AS INTEGER) - 1)) AS i)
    ), ranked AS (
      SELECT doc_id, chunk_idx, chunk_text,
             doc_id * 1000 + chunk_idx AS ord,
             min(doc_id * 1000 + chunk_idx)
               OVER (PARTITION BY chunk_text) AS first_ord
      FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_chunks,
           CAST(count(*) FILTER (ord = first_ord) AS INTEGER) AS n_kept,
           CASE WHEN count(*) FILTER (ord = first_ord) > 0
                THEN string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                       FILTER (ord = first_ord)
           END AS text_dedup
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (C4-style) dedup: the corpus keeps only the FIRST
    occurrence of every repeated span — here a span is a fixed 20-token
    chunk, the synthetic stand-in for a paragraph (the corpus has no
    newline structure).  First occurrence = min (doc_id, chunk_idx) in
    a global total order, so the operation is deterministic and
    ORDER-FREE to compute: one window-min per distinct span text (a
    single hash shuffle on the span), no sort of the corpus.

    Scale shape: chunking is pure JVM array code (split -> slice ->
    posexplode, whole-stage codegen); the only shuffle partitions by
    span text, whose cardinality tracks the corpus' distinct content —
    the same invariant the exact-dedup groupBy rides.  Reassembly
    groups by doc_id (second shuffle) with an array_sort, not a global
    sort.  Docs whose every span was seen earlier surface with
    text_dedup NULL — the rows a curation pipeline would drop."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_chunks = F.ceil(F.size("t") / F.lit(20)).cast("int")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice("t", i * 20 + 1, 20), " "),
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    ord_col = F.col("doc_id") * 1000 + F.col("chunk_idx")
    from pyspark.sql import Window

    ranked = chunks.select(
        "doc_id", "chunk_idx", "chunk_text", ord_col.alias("ord")
    ).withColumn(
        "first_ord", F.min("ord").over(Window.partitionBy("chunk_text"))
    )
    keep = F.col("ord") == F.col("first_ord")
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(keep.cast("int")).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep,
                                F.struct(
                                    F.col("chunk_idx"), F.col("chunk_text")
                                ),
                            )
                        )
                    ),
                    lambda s: s.getField("chunk_text"),
                ),
                " ",
            ).alias("_joined"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("_joined")).alias("text_dedup"),
        )
    )


@query(
    "dedup_levenshtein",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 15
    WHERE levenshtein(a.text, b.text) <= 15
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup (record-linkage style): pairs in
    the same language block within levenshtein distance 15.  The Spark
    side generates candidates with the exactness-preserving
    (block, length-bucket) equi-join and verifies with the banded
    levenshtein (operators/dedup.py levenshtein_pairs); the oracle is
    the O(n^2)-within-block spec with only the provable
    length-difference prune.  ``salt="auto"`` engages per-key
    hot-block sharding from the observed (lang, length-bucket)
    histogram — at bench scale no key crosses the 25M-comparison
    threshold so the plan is the unsalted exchange-free one, but the
    same call splits the modal bucket of the dominant language at
    corpus scale (round-6 verdict's 100-TB risk item)."""
    d = table(spark, sf_dir, "documents")
    return D.levenshtein_pairs(d, max_distance=15, salt="auto")


@query(
    "minhash_estimate_vs_exact",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    hs AS (SELECT DISTINCT doc_id, h FROM __hashes),
    sizes AS (SELECT doc_id, count(*) AS sz FROM hs GROUP BY doc_id),
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST({_AGREE} AS INTEGER) AS n_common
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_BAND_COND})
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      FROM cand c
      JOIN hs x ON x.doc_id = c.doc_a
      JOIN hs y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           CAST(coalesce(i.n_shared, 0) AS INTEGER) AS n_shared,
           round(c.n_common / 16.0, 6) AS jaccard_est,
           round(coalesce(i.n_shared, 0) * 1.0
                 / (sa.sz + sb.sz - coalesce(i.n_shared, 0)), 6) AS jaccard_exact,
           round(abs(c.n_common / 16.0
                     - coalesce(i.n_shared, 0) * 1.0
                       / (sa.sz + sb.sz - coalesce(i.n_shared, 0))), 6) AS abs_err
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
)
def minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: for every MinHash-LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (n_common/16) next to the
    EXACT shingle-set Jaccard and their absolute error — the
    calibration table a dedup platform publishes before anyone trusts
    a 16-permutation sketch at a new threshold.

    Scale shape: candidates come from the band equi-join (never n^2);
    the exact side re-joins the candidate pairs against the distinct
    shingle frame doc-keyed on BOTH ends (the jaccard_pairs verify
    shape, merge-hinted because both shingle sides are corpus-sized);
    intersection and sizes are map-side-combined counts.  Estimate,
    exact, and error are single IEEE ops on exact integers — bit-equal
    across engines before the cosmetic round."""
    from resotodatalink_spark.operators.dedup import shingle_hashes

    d = table(spark, sf_dir, "documents")
    cand = D.minhash_pairs_with_agreement(d)
    g = shingle_hashes(d).distinct()
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ga = g.select(F.col("doc_id").alias("doc_a"), "h")
    gb = g.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(ga.hint("merge"), "doc_a")
        .join(gb.hint("merge"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    j = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )
    est = F.col("n_common") / 16.0
    exact = F.col("n_shared") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    return j.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("n_shared").cast("int").alias("n_shared"),
        F.round(est, 6).alias("jaccard_est"),
        F.round(exact, 6).alias("jaccard_exact"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


@query(
    "dup_span_detect",
    oracle=f"""
    WITH {H.duck_shingle_pos_cte("documents", "doc_id", "text", 5)}
    SELECT h,
           CAST(count(DISTINCT doc_id) AS INTEGER) AS n_docs,
           CAST(count(*) AS INTEGER) AS n_occ,
           min(span) AS span,
           min(doc_id) AS first_doc
    FROM __hashes
    GROUP BY h
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, h
    LIMIT 20
    """,
)
def dup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection: the top word-5-gram spans that
    repeat ACROSS documents (the exact-substring dedup signal of Lee et
    al., "Deduplicating Training Data Makes Language Models Better" —
    their suffix-array pass finds repeated spans; the distributed
    formulation is a positioned n-gram posting list, which finds every
    repeat of length >= n as a run of duplicated n-grams).

    Scale shape: ONE map-side-combined groupBy on the span hash — no
    join anywhere, so the only shuffle is the posting aggregation, and
    the HAVING >= 2 docs prunes the (dominant) unique-span mass before
    the top-k.  The span text rides along as min(span): equal for every
    occurrence of the same gram, so the aggregate stays combinable.
    At 100 TB the same plan holds; the global top-20 is a TakeOrdered
    over per-partition top-20s, never a full sort."""
    from resotodatalink_spark.operators.dedup import shingle_hashes_pos

    d = table(spark, sf_dir, "documents")
    g = shingle_hashes_pos(d, n=5)
    agg = g.groupBy("h").agg(
        F.countDistinct("doc_id").cast("int").alias("n_docs"),
        F.count("*").cast("int").alias("n_occ"),
        F.min("span").alias("span"),
        F.min("doc_id").alias("first_doc"),
    )
    return (
        agg.filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "h")
        .limit(20)
    )


def _mask_keys_duck(src: str, name_col: str, n_col: str) -> str:
    """DuckDB CTE body: 9 wildcard keys per distinct name (digit i of
    the 9-digit suffix masked)."""
    return f"""
      SELECT {name_col} AS name, {n_col} AS n, t.i,
             concat(substr(num, 1, t.i), '_', substr(num, t.i + 2)) AS pat
      FROM {src}, range(9) t(i)
    """


@query(
    "record_linkage_blocked",
    oracle=f"""
    WITH cn AS (
      SELECT c_name, count(*) AS n_c,
             lpad(regexp_extract(c_name, '([0-9]+)$', 1), 9, '0') AS num
      FROM customer GROUP BY c_name
    ),
    sn AS (
      SELECT s_name, count(*) AS n_s,
             lpad(regexp_extract(s_name, '([0-9]+)$', 1), 9, '0') AS num
      FROM supplier GROUP BY s_name
    ),
    ck AS ({_mask_keys_duck('cn', 'c_name', 'n_c')}),
    sk AS ({_mask_keys_duck('sn', 's_name', 'n_s')}),
    cand AS (
      SELECT DISTINCT c.name AS c_name, c.n AS n_c,
                      s.name AS s_name, s.n AS n_s
      FROM ck c JOIN sk s ON c.i = s.i AND c.pat = s.pat
    )
    SELECT c_name, s_name,
           CAST(levenshtein(c_name, s_name) AS INTEGER) AS lev,
           CAST(n_c AS INTEGER) AS n_c_records,
           CAST(n_s AS INTEGER) AS n_s_records
    FROM cand WHERE levenshtein(c_name, s_name) <= 6
    """,
)
def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE record linkage (entity resolution), the two-dataset
    sibling of self-dedup: link customer names to supplier names within
    edit distance 6 (the constant 5-letter Customer/Supplier prefix
    substitution plus at most one digit edit).

    Scale shape — two things the naive version gets wrong at volume:

    1. CANONICALIZE FIRST: records collapse to distinct names (with
       record counts carried through) before any pair work, so
       duplicate records never multiply candidate pairs — the scaled
       bench corpus has 10 copies per name, which turned a mod-100
       block join into 15M candidates (measured 39s at sf1; this
       formulation is ~1s).
    2. WILDCARD BLOCKING: one key per masked digit position of the
       9-digit suffix (deletion-neighborhood blocking).  Two numbers
       agree on a masked pattern iff they differ ONLY at the masked
       digit, so the key join emits exactly the <=1-digit-edit pairs —
       candidates per key are bounded by the 10 digit values, i.e.
       candidate volume is O(9n), linear in the tables, independent of
       block-size growth (the mod-K block grows as n^2/K).

    The 9x-exploded supplier key side stays the small side and is
    broadcast; with two large tables the same plan sort-merges on
    (i, pat).  levenshtein verifies candidates codegen-side in both
    engines (identical Wagner-Fischer semantics)."""

    def keys(df: DataFrame, name: str, cnt: str) -> DataFrame:
        named = df.groupBy(F.col(name).alias("name")).agg(
            F.count("*").cast("int").alias("n")
        )
        num = F.lpad(F.regexp_extract("name", "([0-9]+)$", 1), 9, "0")
        pats = F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.concat(
                        F.substring(num, 1, i),
                        F.lit("_"),
                        F.substring(num, i + 2, 9),
                    ).alias("pat"),
                )
                for i in range(9)
            ]
        )
        return named.select("name", "n", F.explode(pats).alias("k")).select(
            "name", "n", "k.i", "k.pat"
        )

    ck = keys(table(spark, sf_dir, "customer"), "c_name", "n_c")
    sk = keys(table(spark, sf_dir, "supplier"), "s_name", "n_s")
    cand = (
        # no broadcast hint: the supplier key frame is SF-linear (x9
        # deletion patterns), so the build strategy is Catalyst's size
        # call — broadcast at bench SFs, shuffle on a cluster where
        # supplier is GBs (the tpch.py round-9 hint rule)
        ck.join(sk.withColumnsRenamed({"name": "s_name", "n": "n_s"}),
                ["i", "pat"])
        .select(F.col("name").alias("c_name"), F.col("n").alias("n_c"),
                "s_name", "n_s")
        .distinct()
    )
    lev = F.levenshtein("c_name", "s_name")
    return cand.filter(lev <= 6).select(
        "c_name",
        "s_name",
        lev.cast("int").alias("lev"),
        F.col("n_c").alias("n_c_records"),
        F.col("n_s").alias("n_s_records"),
    )


@query(
    "simhash_hamming_audit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hh AS (SELECT doc_id, {_SIMHASH_HH} AS hh FROM toks),
    votes AS (SELECT doc_id, {_SIMHASH_SUMS}, count(*) AS n FROM hh GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM votes),
    cand AS (
      SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE (a.simhash & 255) = (b.simhash & 255)
         OR ((a.simhash >> 8) & 255) = ((b.simhash >> 8) & 255)
    )
    SELECT CAST(hamming AS INTEGER) AS hamming,
           CAST(count(*) AS INTEGER) AS n_pairs,
           hamming <= 1 AS within_threshold
    FROM cand GROUP BY hamming
    """,
)
def simhash_hamming_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash calibration (completes the sketch-audit trilogy with
    minhash_estimate_vs_exact and ann_recall_at_k): the exact hamming
    HISTOGRAM of the raw pigeonhole candidate set, i.e. how much
    verify work the 2-block equi-join generates per hamming bucket
    and what fraction survives the hamming <= 1 threshold.  The
    number that decides whether a signature is wide enough: when the
    out-of-threshold buckets dominate, the block join is doing n^2
    work in disguise and the signature needs more bits (the
    simhash_signatures docstring's birthday-bound note, measured).

    Scale shape: identical to dedup_simhash (sort-merge block
    self-join, never broadcast) plus one bounded (<= n_bits+1 rows)
    map-side-combined histogram aggregate."""
    d = table(spark, sf_dir, "documents")
    sig = D.simhash_signatures(d)
    cand = D.simhash_block_candidates(sig, n_blocks=2)
    return cand.groupBy("hamming").agg(
        F.count("*").cast("int").alias("n_pairs")
    ).select(
        "hamming",
        "n_pairs",
        (F.col("hamming") <= 1).alias("within_threshold"),
    )


# --- cross-split leakage audit --------------------------------------------

# Same split assignment as pipeline.dataset_split (identical spread
# constants), re-derived inline from the pair's doc ids — the split of
# a doc is a pure expression of doc_id, so the audit needs NO join
# against a split-assignment table.
_XS_AGREE_MIN = 12  # >= 12/16 agreeing minhashes ~ Jaccard >= 0.75


def _split_of(col: str) -> str:
    return (
        f"CASE WHEN ({col} * {H.SPREAD_MULT} + 919380) % {H.SPREAD_MOD} "
        f"% 100 < 80 THEN 'train' "
        f"WHEN ({col} * {H.SPREAD_MULT} + 919380) % {H.SPREAD_MOD} "
        f"% 100 < 90 THEN 'val' ELSE 'test' END"
    )


@query(
    "cross_split_leakage",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_MINS} FROM __hashes GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST({_AGREE} AS INTEGER) AS n_common
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_BAND_COND})
    ),
    labeled AS (
      SELECT doc_a, doc_b, n_common,
             {_split_of('doc_a')} AS sa, {_split_of('doc_b')} AS sb
      FROM pairs WHERE n_common >= {_XS_AGREE_MIN}
    )
    SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
           CAST(count(*) // 2 AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT risk_id) AS BIGINT) AS n_docs_at_risk
    FROM labeled,
         UNNEST([CASE WHEN sa <> sb THEN doc_a END,
                 CASE WHEN sa <> sb THEN doc_b END]) AS u(risk_id)
    GROUP BY least(sa, sb), greatest(sa, sb)
    """,
)
def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (MinHash
    agreement >= 12/16 ~ Jaccard >= 0.75) that STRADDLE the
    train/val/test assignment of ``dataset_split`` — the eval-integrity
    check a training pipeline must run AFTER dedup and splitting,
    because a test document with a train-side near-dup silently
    inflates benchmark scores.  Within-split pairs are reported too
    (split_a = split_b rows) as the honest denominator: leakage share
    = straddling / all near-dup pairs.

    Scale shape: candidate generation is the attested LSH band join
    (operators/dedup.py — never all-pairs); split labels are pure
    expressions of the pair's ids (the hash-based split's superpower:
    no join against an assignment table, no extra shuffle); the final
    aggregate is map-side-combined onto a <= 6-row frame.
    n_docs_at_risk counts distinct docs over the UNION of both sides
    of straddling pairs (a doc in k pairs — on either side — is one
    risk, not k; the per-side-sum form double-counted a doc appearing
    as doc_a in one pair and doc_b in another, r9 ADVICE).  Each pair
    is exploded into its two sides before the aggregate, so the single
    distinct rides the same shuffle as the pair count (count(*)/2)."""
    pairs = D.minhash_pairs_with_agreement(
        table(spark, sf_dir, "documents")
    ).filter(F.col("n_common") >= _XS_AGREE_MIN)
    labeled = pairs.select(
        "doc_a",
        "doc_b",
        F.expr(_split_of("doc_a")).alias("sa"),
        F.expr(_split_of("doc_b")).alias("sb"),
    )
    straddle = F.col("sa") != F.col("sb")
    return (
        labeled.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            F.explode(
                F.array(
                    F.when(straddle, F.col("doc_a")),
                    F.when(straddle, F.col("doc_b")),
                )
            ).alias("risk_id"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            (F.count("*") / 2).cast("long").alias("n_pairs"),
            F.countDistinct("risk_id").alias("n_docs_at_risk"),
        )
    )


# --- maximal duplicated-span merge (dup_span_detect's second half) -------


@query(
    "dup_span_merge",
    oracle=f"""
    WITH {H.duck_shingle_pos_cte("documents", "doc_id", "text", 5)},
    dup AS (
      SELECT h FROM __hashes GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    p AS (
      SELECT g.doc_id, g.pos,
             g.pos - row_number() OVER (PARTITION BY g.doc_id
                                        ORDER BY g.pos) AS grp
      FROM __hashes g JOIN dup USING (h)
    ),
    isl AS (
      SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
             CAST(max(pos) AS INTEGER) AS span_end,
             CAST(count(*) AS INTEGER) AS n_grams
      FROM p GROUP BY doc_id, grp
    )
    SELECT doc_id, span_start, span_end, n_grams,
           CAST(span_end - span_start + 5 AS INTEGER) AS span_tokens
    FROM isl WHERE n_grams >= 2
    """,
)
def dup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span extraction — the second half of the Lee
    et al. exact-substring dedup (arXiv:2107.06499): where
    ``dup_span_detect`` ranks the grams that repeat across documents,
    this slug merges each document's runs of CONSECUTIVE duplicated
    word-5-gram positions into maximal spans (gaps-and-islands:
    ``pos - row_number()`` is constant within a run), i.e. the byte
    ranges a training-data pipeline would actually strip.  A span of
    n_grams consecutive duplicated grams covers n_grams + 4 tokens; the
    n_grams >= 2 floor drops isolated common-phrase grams, so output is
    the long-repeat tail (their suffix-array pass keys on >= 50-token
    repeats; the shipped corpus' planted duplicates surface here as
    spans up to ~100 tokens).

    Scale shape: (1) ONE map-side-combined groupBy on the gram hash
    with a HAVING >= 2-docs prune (dup_span_detect's aggregation);
    (2) an equi-join of positions against the pruned dup-gram set —
    both sides shuffle on h, no broadcast hint (the dup set grows with
    the corpus); (3) a per-document window + island aggregate, bounded
    by document length.  At 100 TB every stage stays linear in corpus
    size, and the dominant unique-gram mass dies in the partial
    aggregates of (1)."""
    from pyspark.sql import Window as W

    from resotodatalink_spark.operators.dedup import shingle_hashes_pos

    d = table(spark, sf_dir, "documents")
    g = shingle_hashes_pos(d, n=5).select("doc_id", "pos", "h")
    # Optimization round 14 also A/B-tested an eager checkpoint of g
    # (one shingle pass instead of two) and REJECTED it on the same
    # byte standard: sf10 same-session medians 33.2s/269.2 MB base vs
    # 48.1s/689.1 MB checkpointed — materializing the positioned gram
    # frame costs more than recomputing the hash chains, and the
    # RDD-scan rebuild loses the spread partitioning both consumers
    # ride.  The 269 MB (h, doc_id) exchange is the countDistinct
    # information floor (every gram identity must reach one reducer).
    # A min(doc_id) <> max(doc_id) rewrite of this filter (one
    # combinable aggregation pass, HashAggregate 12 -> 8) was
    # A/B-tested in optimization round 13 and REVERTED on the repo's
    # byte standard: the gram population is mostly unique, so the
    # distinct pre-phase removes no rows while (h, mn, mx) partials
    # are 1.5x wider than (h, doc_id) — shuffle 269 -> 484 MB at sf10
    # (tools/bench_drift.py flags it), a net loss on a network-bound
    # cluster despite the quiet-cycle local wall win (26.6 -> 21.9s).
    dup = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    p = g.join(dup, "h").select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("grp"),
    )
    isl = p.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("int").alias("span_start"),
        F.max("pos").cast("int").alias("span_end"),
        F.count("*").cast("int").alias("n_grams"),
    )
    return isl.filter(F.col("n_grams") >= 2).select(
        "doc_id",
        "span_start",
        "span_end",
        "n_grams",
        (F.col("span_end") - F.col("span_start") + 5).cast("int").alias("span_tokens"),
    )
