"""§2 J — LLM-data-pipeline operators (north-star extension).

The reference's hash-dedup (get_or_create + reaction_hash [P])
generalizes to training-data curation: exact dedup, MinHash near-dup,
embedding similarity, text analytics.  documents/embeddings tables
exist for exactly this (FIXTURES.md §1).

Scale notes: J1 is a hash-groupBy (shuffle on the 256-bit hash — no
skew by construction).  J2/J4 are the sub-quadratic candidate-
generation paths (LSH bucket joins); J3 is the exact quadratic
baseline kept for recall measurement and small probe sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.registry import register


@register(
    "dedup_exact_hash",
    oracle="""
SELECT sha256(lower(trim(text))) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1
""",
    doc="J1 exact dedup via content hash — get_or_create generalized [P]: normalize, "
    "hash, group; min(doc_id) is the canonical survivor. Groups with n_docs>1 are "
    "the duplicates.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        F.sha2(F.lower(F.trim("text")), 256).alias("text_hash")
    ).agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))


@register(
    "dedup_minhash_near",
    oracle=None,  # approximate; recall vs exact Jaccard asserted in tests
    doc="J2 MinHash+LSH near-dup join: word 3-gram shingles -> binary HashingTF -> "
    "MinHashLSH (seed=42) -> approxSimilarityJoin at Jaccard distance <= 0.3. "
    "Shingles (not bare words) keep random docs dissimilar, so LSH buckets prune "
    "hard — the 100 TB dedup path never materializes the cross product. "
    "rows-only (approximate by design); recall vs exact Jaccard in tests.",
)
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # split materialized once per row — element_at(split(...)) inside the
    # lambda re-splits the full text per gram (see dedup_containment_ngram)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("w") - 2, F.lit(1))),
        lambda i: F.array_join(F.slice("w", i, 3), " "),
    )
    shingled = d.select("doc_id", shingles.alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    # pinned: approxSimilarityJoin references feats as BOTH join sides,
    # and the shingle+HashingTF pipeline is the CPU-heavy half of this
    # key — uncached it executes twice (r14, guide §5.2)
    feats = tf.transform(shingled).select("doc_id", "features").persist()
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


_COS_ORACLE = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), norms AS (
  SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
  FROM ex GROUP BY 1
), cos AS (
  SELECT d.a_id, d.b_id, d.dot / (na.nrm * nb.nrm) AS c
  FROM dots d
  JOIN norms na ON na.vec_id = d.a_id
  JOIN norms nb ON nb.vec_id = d.b_id
), ranked AS (
  SELECT a_id, b_id, c,
         row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rn
  FROM cos
)
SELECT a_id, b_id, round(c, 6) AS cos_sim, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5
"""


@register(
    "sim_cosine_topk",
    oracle=_COS_ORACLE,
    doc="J3 brute-force cosine top-k — the exact baseline every ANN variant is "
    "measured against. Broadcast-matrix + BLAS via mapInPandas "
    "(operators/knn.py): the corpus is broadcast once, each query partition does "
    "one matmul and local top-k — no shuffle, no per-pair lambda interpretation. "
    "At 100 TB the serving path is J4; this kernel then runs per candidate bucket.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.knn import cosine_topk

    return cosine_topk(load_table(spark, sf_dir, "embeddings"), k=5)


@register(
    "sim_ann_lsh",
    oracle=None,  # approximate; recall vs sim_cosine_topk asserted in tests
    doc="J4 ANN via BucketedRandomProjectionLSH (seed=42): random-hyperplane buckets "
    "prune the candidate set, approxSimilarityJoin on a fixed probe set "
    "(vec_id % 100 == 0) -> top-10 by euclidean distance. The scale path: cost "
    "follows bucket collisions, not n^2. rows-only; recall >= 0.8 vs J3 in tests.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    probes = e.filter(F.col("vec_id") % 100 == 0)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(probes, e, float("inf"), distCol="dist")
    pairs = pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.col("dist").alias("dist"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("dist").asc(), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select("probe_id", "neighbor_id", F.round("dist", 6).alias("dist"), "rn")
    )


@register(
    "sim_ann_ivf",
    oracle=None,  # approximate; recall vs exact asserted in tests
    doc="J4b IVF ANN (operators/ivf.py): KMeans coarse quantizer (nlist=8, seed=42), "
    "probes search only the nprobe=2 nearest cells — partition-pruned candidate "
    "scan + exact distance, the IVF alternative to random-projection LSH. "
    "rows-only; recall vs brute force asserted in tests.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, probes, k=10, nlist=8, nprobe=2, seed=42)


@register(
    "sim_ann_ivf_pq",
    oracle=None,  # approximate; recall vs exact asserted in tests
    doc="J4c IVF-PQ ANN (operators/ivf.py ivf_pq_topk): KMeans coarse cells + "
    "product-quantized residuals (m=8 subspaces x 16 codewords = 8 bytes per "
    "vector vs 256 for raw floats — the compression that fits a trillion-vector "
    "index in cluster RAM). Queries score candidates via ADC lookup tables "
    "(no float vectors touched), then exact-rerank the shortlist. Only "
    "codebooks/centroids collect to the driver; encode and scoring are "
    "vectorized mapInPandas. rows-only; recall vs brute force asserted in tests.",
)
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_pq_topk(emb, probes, k=10, nlist=8, nprobe=2, seed=42)


@register(
    "text_stats",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(length(text)), 6) AS avg_len,
       CAST(count(*) FILTER (WHERE length(text) <> n_chars) AS BIGINT) AS n_len_mismatch,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_words
FROM documents GROUP BY lang
""",
    doc="J5 text profiling per language: doc counts, mean length, advertised-vs-actual "
    "length audit (n_chars is deliberately auditable, FIXTURES §1), token totals.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_len"),
        F.count_if(F.length("text") != F.col("n_chars")).alias("n_len_mismatch"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_words"),
    )


@register(
    "text_top_terms",
    oracle="""
WITH words AS (
  SELECT source, unnest(str_split(text, ' ')) AS term FROM documents
), counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1, 2
), ranked AS (
  SELECT source, term, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rn
  FROM counts
)
SELECT source, term, n, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5
""",
    doc="J6 top terms per source (tf-idf-lite): explode -> count -> windowed top-k. "
    "explode + two-level agg keeps the shuffle on (source, term), not raw tokens.",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    counts = words.groupBy("source", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "term")
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("source", "term", "n", "rn")
    )


@register(
    "embed_vector_norm",
    oracle="""
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
       round(CAST(embedding[1] AS DOUBLE) /
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS first_unit
FROM embeddings
""",
    doc="J7 vector norms via higher-order aggregate (H8 applied): L2 norm and the "
    "first component of the unit vector — all inside codegen, no UDF.",
)
def embed_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    l2 = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + dbl(x) * dbl(x))
    )
    return e.select(
        "vec_id",
        F.round(l2, 6).alias("l2"),
        F.round(F.element_at("embedding", 1).cast("double") / l2, 6).alias("first_unit"),
    )


@register(
    "embed_quantize_int8",
    oracle="""
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), q AS (
  SELECT e.vec_id, s.scale,
         list_transform(e.embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) / s.scale * 127 + 0.5) AS BIGINT)) AS qvec
  FROM embeddings e JOIN s ON e.vec_id = s.vec_id
)
SELECT q.vec_id AS id, round(q.scale, 6) AS scale,
       array_to_string(q.qvec, ',') AS qvec,
       round(list_sum(list_transform(
               list_zip(e.embedding, q.qvec),
               p -> pow(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * q.scale / 127, 2)))
             / len(q.qvec) * 1e9, 3) AS mse_e9
FROM q JOIN embeddings e ON e.vec_id = q.vec_id
""",
    doc="Symmetric int8 quantization of the embedding column: per-vector "
    "max-abs scale, q = floor(v/scale*127 + 0.5) (floor(x+.5), NOT round — "
    "HALF_UP vs banker's rounding diverges on exact .5 ties across engines), "
    "plus reconstruction MSE. All codegen'd array HOFs (transform/aggregate) "
    "— zero Python. This is the storage-shrink pass before ANN index build: "
    "4x smaller vectors, error surfaced per vector so a pipeline can gate "
    "on quality. qvec hashes exactly (integers); mse reported in nano-units "
    "(x1e9) rounded at 3 decimals so cross-engine float jitter (~1e-15 abs) "
    "sits 9 orders below the rounding step; the unique integer id sorts "
    "first so row order never depends on a float.",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(dbl(x))))
    # the raw scale column must NOT share a name with the rounded output
    # column: Spark's lateral-column-alias resolution lets the rounded alias
    # shadow the input inside the HOF lambda, silently degrading the error
    # term (caught by the oracle: mse off at 3e-5 relative).
    q = e.select(
        "vec_id",
        "embedding",
        scale.alias("scale_raw"),
    ).select(
        "vec_id",
        "embedding",
        "scale_raw",
        F.transform(
            "embedding",
            lambda x: F.floor(dbl(x) / F.col("scale_raw") * 127 + 0.5).cast("long"),
        ).alias("qvec"),
    )
    err = F.aggregate(
        F.zip_with(
            "embedding", "qvec", lambda v, qq: F.pow(dbl(v) - qq * F.col("scale_raw") / 127, 2)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # qvec ships as a ','-joined string: the driver's canonicalizer cannot
    # hash array cells (r3 ERR class); integers join losslessly.
    return q.select(
        F.col("vec_id").alias("id"),
        F.round("scale_raw", 6).alias("scale"),
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec"),
        F.round(err / F.size("qvec") * 1e9, 3).alias("mse_e9"),
    )


@register(
    "text_tfidf_topk",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM words GROUP BY 1
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf,
         round(t.tf * ln(n.n_docs / d.df), 6) AS score
  FROM tf t JOIN df d ON d.term = t.term CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
""",
    doc="TF-IDF keyword extraction: term frequency per (doc, term), "
    "document frequency per term, score = tf * ln(N/df), top-3 terms per "
    "document. Ranking uses the score ROUNDED to 6 decimals (then the "
    "term as tiebreaker) so cross-engine libm ulp differences in ln() "
    "can never flip an ordering — mathematically-equal scores from "
    "different (tf, df) pairs collapse to the same rounded key on both "
    "engines. Shuffles carry (doc, term) and term aggregates, never raw "
    "tokens twice; the term->idf side is a dimension join (broadcast at "
    "vocab scale, shuffle join at web scale); the per-doc top-3 rewrites "
    "to WindowGroupLimit partial pruning.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "score", "rn")
    )


# --- sim_maxsim_late_interaction: ColBERT-style MaxSim retrieval ------
_MAXSIM_NQ = 5   # query set: vec_id <= 4 (deterministic, present at all sfs)
_MAXSIM_K = 3    # results per query
_MAXSIM_T = 8    # token sub-vectors per embedding (8 tokens x 8 dims)


def _maxsim_expr(qcol: str, dcol: str, spark_side: bool) -> str:
    """MaxSim(q, d) = sum_t max_tau dot(q_t, d_tau), fully unrolled with
    FIXED left-to-right association so both engines compute bit-identical
    doubles (the sum order of a float dot product is not associative)."""
    cast = (
        "CAST(element_at({col}, {i}) AS DOUBLE)"
        if spark_side
        else "CAST({col}[{i}] AS DOUBLE)"
    )

    def dot(t: int, tau: int) -> str:
        terms = [
            f"{cast.format(col=qcol, i=8 * t + i)} * "
            f"{cast.format(col=dcol, i=8 * tau + i)}"
            for i in range(1, 9)
        ]
        e = terms[0]
        for x in terms[1:]:
            e = f"({e} + {x})"
        return e

    per_t = [
        "greatest(" + ", ".join(dot(t, tau) for tau in range(_MAXSIM_T)) + ")"
        for t in range(_MAXSIM_T)
    ]
    e = per_t[0]
    for x in per_t[1:]:
        e = f"({e} + {x})"
    return e


@register(
    "sim_maxsim_late_interaction",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id <= {_MAXSIM_NQ - 1}
), d AS (
  SELECT vec_id AS d_id, embedding AS de FROM embeddings
), scored AS (
  SELECT q_id, d_id, {_maxsim_expr("qe", "de", spark_side=False)} AS score
  FROM q, d WHERE d_id <> q_id
), rnk AS (
  SELECT q_id, d_id, score,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, d_id) AS rank
  FROM scored
)
SELECT q_id, d_id, CAST(rank AS BIGINT) AS rank, score
FROM rnk WHERE rank <= {_MAXSIM_K}
""",
    doc="Late-interaction retrieval (the ColBERT MaxSim shape): each "
    f"embedding is treated as {_MAXSIM_T} token sub-vectors of 8 dims; "
    "score(q, d) = sum over query tokens of the MAX dot product against "
    "any doc token — the interaction that single-vector cosine "
    "(sim_cosine_topk) cannot express, scored here for a fixed "
    f"{_MAXSIM_NQ}-query set with top-{_MAXSIM_K} per query. "
    "Execution: the tiny query side broadcasts and the scoring is a "
    "map-only pass over the doc side (per-doc cost is a constant "
    "64-dot-product block, fully unrolled into codegen'd arithmetic "
    "with FIXED association so both engines produce bit-identical "
    "doubles — no UDF, no rounding needed); per-query top-k via "
    "window rank. At 100 TB this is the late-interaction re-rank "
    "stage: candidates come from the ANN family, and the broadcast-Q "
    "pattern scales with |Q|, not corpus size.",
    tags=("llm", "similarity"),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= _MAXSIM_NQ - 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    d = e.select(F.col("vec_id").alias("d_id"), F.col("embedding").alias("de"))
    scored = (
        d.crossJoin(F.broadcast(q))  # the tiny |Q| side broadcasts: a
        # map-only pass over the doc side (BuildRight = q)
        .filter(F.col("d_id") != F.col("q_id"))
        .select(
            "q_id",
            "d_id",
            F.expr(_maxsim_expr("qe", "de", spark_side=True)).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("d_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MAXSIM_K)
        .select("q_id", "d_id", F.col("rank").cast("bigint").alias("rank"), "score")
    )


# --- embed_binary_hamming_topk: 1-bit quantization + Hamming search ---
_BHAM_NQ, _BHAM_K = 5, 3


def _sign_pack_expr(col: str, spark_side: bool) -> str:
    """Pack sign bits of the 64 dims into ONE BIGINT: bit i set iff
    embedding[i+1] >= 0. Bit 63 is dim 64's sign, set by multiplying by
    BIGINT-min (DuckDB overflow-checks a plain 1 << 63). Unrolled OR
    chain, identical structure both sides."""
    at = (
        f"element_at({col}, {{i}})" if spark_side else f"{col}[{{i}}]"
    )
    shl = "shiftleft({x}, {n})" if spark_side else "({x} << {n})"
    terms = []
    for i in range(1, 65):
        bit = f"CAST({at.format(i=i)} >= 0 AS BIGINT)"
        if i == 1:
            terms.append(bit)
        elif i == 64:
            # DuckDB overflow-checks (1 << 63); setting the sign bit via
            # multiplication by BIGINT-min is exact in both engines
            terms.append(f"({bit} * CAST(-9223372036854775808 AS BIGINT))")
        else:
            terms.append(shl.format(x=bit, n=i - 1))
    e = terms[0]
    for t in terms[1:]:
        e = f"({e} | {t})"
    return e


@register(
    "embed_binary_hamming_topk",
    oracle=f"""
WITH sig AS (
  SELECT vec_id, {_sign_pack_expr("embedding", spark_side=False)} AS s
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, s AS qs FROM sig WHERE vec_id <= {_BHAM_NQ - 1}
), scored AS (
  SELECT q_id, sig.vec_id AS d_id,
         CAST(bit_count(xor(qs, sig.s)) AS BIGINT) AS hamming
  FROM q, sig WHERE sig.vec_id <> q_id
), rnk AS (
  SELECT q_id, d_id, hamming,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY hamming, d_id) AS rank
  FROM scored
)
SELECT q_id, d_id, CAST(rank AS BIGINT) AS rank, hamming
FROM rnk WHERE rank <= {_BHAM_K}
""",
    doc="Binary embedding quantization + Hamming-distance retrieval: each "
    "64-dim vector collapses to ONE BIGINT of sign bits (the 1-bit "
    "quantization behind binary-embedding search — 32x smaller than "
    "float32, and XOR+popcount distance), then top-3 per query by "
    "Hamming distance with deterministic (distance, id) ranking. "
    "Everything is exact integer arithmetic — signature, XOR, "
    "bit_count — inside whole-stage codegen; the signature build is a "
    "map-only scan and the query side broadcasts (same posture as "
    "MaxSim). At 100 TB binary signatures are the cheap FIRST filter "
    "stage: 8 bytes/vector scans at memory bandwidth, and survivors "
    "re-rank through int8 (embed_quantize_int8), ANN (sim_ann_*), or "
    "late-interaction (MaxSim) stages.",
    tags=("llm", "embedding"),
)
def embed_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        F.expr(_sign_pack_expr("embedding", spark_side=True)).alias("s"),
    )
    q = sig.filter(F.col("vec_id") <= _BHAM_NQ - 1).select(
        F.col("vec_id").alias("q_id"), F.col("s").alias("qs")
    )
    scored = (
        sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("d_id"),
            F.bit_count(F.col("qs").bitwiseXOR(F.col("s")))
            .cast("bigint")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "d_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BHAM_K)
        .select("q_id", "d_id", F.col("rank").cast("bigint").alias("rank"), "hamming")
    )


_MRL_ORACLE = """
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot,
         sum(CASE WHEN a.i <= 32
                  THEN CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) END) AS dot_h
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), norms AS (
  SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm,
         sqrt(sum(CASE WHEN i <= 32
                       THEN CAST(v AS DOUBLE) * CAST(v AS DOUBLE) END)) AS nrm_h
  FROM ex GROUP BY 1
), full_rank AS (
  SELECT d.a_id, d.b_id,
         row_number() OVER (PARTITION BY d.a_id
             ORDER BY d.dot / (na.nrm * nb.nrm) DESC, d.b_id) AS rn
  FROM dots d
  JOIN norms na ON na.vec_id = d.a_id
  JOIN norms nb ON nb.vec_id = d.b_id
), half_rank AS (
  SELECT d.a_id, d.b_id,
         row_number() OVER (PARTITION BY d.a_id
             ORDER BY d.dot_h / (na.nrm_h * nb.nrm_h) DESC, d.b_id) AS rn
  FROM dots d
  JOIN norms na ON na.vec_id = d.a_id
  JOIN norms nb ON nb.vec_id = d.b_id
)
SELECT f.a_id AS vec_id,
       CAST(count(h.b_id) AS BIGINT) AS n_overlap
FROM (SELECT * FROM full_rank WHERE rn <= 5) f
LEFT JOIN (SELECT * FROM half_rank WHERE rn <= 5) h
  ON h.a_id = f.a_id AND h.b_id = f.b_id
GROUP BY f.a_id
"""


@register(
    "embed_matryoshka_overlap",
    oracle=_MRL_ORACLE,
    doc="Matryoshka-representation evaluation (the MRL question: how much "
    "retrieval survives truncating the embedding to its prefix?): exact "
    "top-5 cosine neighbor sets at full 64 dims and at the 32-dim "
    "prefix, overlap counted per vector — the measurement that decides "
    "whether a corpus can serve ANN from half-width vectors (2x memory "
    "and bandwidth) with acceptable recall.  Both sets come from the "
    "SAME gated broadcast-BLAS kernel as sim_cosine_topk (operators/"
    "knn.py — exact, deterministic (cos DESC, id) tie-break, loud "
    "LSH/IVF pointer past the 512 MiB gate), run once on the full "
    "vectors and once on the sliced prefix; the overlap join is then a "
    "tiny (n x 5)-row equi-join.  At 100 TB the kernel swaps for the "
    "ANN candidate paths per the gate contract; the overlap harness is "
    "unchanged.  Oracle replays both rankings with index-limited sums.",
    tags=("llm", "embed"),
)
def embed_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.knn import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    full = cosine_topk(emb, k=5).select("a_id", "b_id")
    half = cosine_topk(
        emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding")), k=5
    ).select(F.col("a_id").alias("h_a"), F.col("b_id").alias("h_b"))
    return (
        full.join(
            half,
            (F.col("a_id") == F.col("h_a")) & (F.col("b_id") == F.col("h_b")),
            "left",
        )
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.count("h_b").cast("bigint").alias("n_overlap"))
    )


@register(
    "sim_topk_incremental",
    oracle=_COS_ORACLE,
    doc="Incremental top-k similarity maintenance: the corpus is split "
    "into history (90%) and a newly-arrived delta batch (vec_id % 10 == "
    "0), and the all-pairs top-5 answer over the UNION is maintained "
    "WITHOUT rescoring history against itself — old queries merge their "
    "stored top-k-vs-history state with fresh scores against only the "
    "delta (top-k of a union is the top-k of the partial top-k lists: "
    "selection is a lattice homomorphism, so the merge is lossless), "
    "and only the delta's own queries score against the full corpus.  "
    "The oracle is the FULL from-scratch recompute (sim_cosine_topk's "
    "oracle verbatim); hash equality proves the incremental path exact "
    "— the index-maintenance pattern that turns a nightly O(n^2) "
    "rebuild into an O(n x |delta|) refresh.  Merging re-ranks on RAW "
    "float scores (cosine_topk_against returns unrounded sims; rounding "
    "only at output) so 6-decimal display rounding can never misorder "
    "a boundary tie.  Scale: history-vs-history work (the quadratic "
    "term) is never redone; both fresh scoring passes ride the gated "
    "broadcast-BLAS kernel, which per the knn.py contract degrades to "
    "LSH/IVF bucketed application past the 512 MiB gate.",
    tags=("llm",),
)
def sim_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.knn import cosine_topk_against

    K = 5
    e = load_table(spark, sf_dir, "embeddings")
    hist = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    # the 'already materialized' state (in production: read back from the
    # index store, never recomputed — rebuilt here only to seed the fixture)
    state = cosine_topk_against(hist, hist, K)
    inc_old = cosine_topk_against(hist, delta, K)  # old queries x delta only
    new_q = cosine_topk_against(delta, e, K)  # new queries x full corpus
    w = Window.partitionBy("a_id").orderBy(F.col("c").desc(), F.col("b_id"))
    merged_old = (
        state.unionByName(inc_old)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
    )
    return merged_old.unionByName(new_q).select(
        "a_id", "b_id", F.round("c", 6).alias("cos_sim"), "rn"
    )


# Hashing-trick embedding constants for the composed RAG pipeline: token
# t contributes sign(t) at dimension dim(t), both from the shared
# md5-bucket convention so the whole pipeline is SQL-replayable.
_RAG_DIMS = 64
_RAG_CHUNK = 32  # tokens per (non-overlapping) chunk
_RAG_DIM_SPARK = (
    "CAST(conv(substring(md5(concat('rd', tok)), 1, 15), 16, 10) AS BIGINT) % 64"
)
_RAG_SIGN_SPARK = (
    "1 - 2 * (CAST(conv(substring(md5(concat('rs', tok)), 1, 15), 16, 10) "
    "AS BIGINT) % 2)"
)
_RAG_DIM_DUCK = (
    "CAST(CAST(concat('0x', substr(md5(concat('rd', tok)), 1, 15)) "
    "AS UBIGINT) % 64 AS BIGINT)"
)
_RAG_SIGN_DUCK = (
    "1 - 2 * CAST(CAST(concat('0x', substr(md5(concat('rs', tok)), 1, 15)) "
    "AS UBIGINT) % 2 AS BIGINT)"
)


@register(
    "rag_chunk_index_mips",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, (i - 1) // {_RAG_CHUNK} AS chunk_no, tok
  FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS tok,
           generate_subscripts(str_split(text, ' '), 1) AS i
    FROM documents
  ) WHERE tok <> ''
), emb AS (
  SELECT doc_id, chunk_no, {_RAG_DIM_DUCK} AS dim,
         CAST(sum({_RAG_SIGN_DUCK}) AS BIGINT) AS val
  FROM toks GROUP BY doc_id, chunk_no, dim
  HAVING sum({_RAG_SIGN_DUCK}) <> 0
), q AS (
  SELECT doc_id AS q_doc, dim, val FROM emb
  WHERE doc_id % 100 = 0 AND doc_id < 1000 AND chunk_no = 0
), dots AS (
  SELECT q.q_doc, e.doc_id AS n_doc, e.chunk_no AS n_chunk,
         CAST(sum(q.val * e.val) AS BIGINT) AS dot
  FROM q JOIN emb e ON e.dim = q.dim AND e.doc_id <> q.q_doc
  GROUP BY q.q_doc, e.doc_id, e.chunk_no
), ranked AS (
  SELECT q_doc, n_doc, n_chunk, dot,
         row_number() OVER (PARTITION BY q_doc
                            ORDER BY dot DESC, n_doc, n_chunk) AS rn
  FROM dots
)
SELECT q_doc, n_doc, n_chunk, dot, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3 ORDER BY q_doc, rn
""",
    doc="Composed RAG indexing + retrieval pipeline, exact end to end: "
    f"documents are chunked ({_RAG_CHUNK} tokens, non-overlapping), "
    "every chunk gets a signed hashing-trick embedding (token t adds "
    f"sign(t) in {{-1,+1}} at md5-bucket dimension dim(t) of "
    f"{_RAG_DIMS} — the feature-hashing construction, integer-exact "
    "and engine-replayable, standing in for a learned encoder with "
    "identical Spark-side plumbing), and query chunks (chunk 0 of "
    "every doc_id % 100 == 0) retrieve their top-3 chunks corpus-wide "
    "by MAXIMUM INNER PRODUCT over the sparse (chunk, dim, val) index "
    "— one dim-key equi-join, never a dense all-pairs scan, which IS "
    "how a sparse MIPS index serves at scale (posting lists per "
    "dimension).  Same-document chunks are excluded (the trivial "
    "match).  Everything is BIGINT: the whole chunk -> embed -> index "
    "-> retrieve -> rank dataflow value-hashes against the SQL replay "
    "with zero float tolerance.  Scale: tokenize+hash is one narrow "
    "pass; the index build is one (doc, chunk, dim) partial-agg "
    "shuffle; the tiny query side broadcasts into the posting join; "
    "top-3 per query is a WindowGroupLimit heap.",
    tags=("llm",),
)
def rag_chunk_index_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).filter(F.col("tok") != "").select(
        "doc_id",
        (F.col("pos") / _RAG_CHUNK).cast("long").alias("chunk_no"),
        "tok",
    )
    emb = (
        toks.select(
            "doc_id",
            "chunk_no",
            F.expr(_RAG_DIM_SPARK).alias("dim"),
            F.expr(_RAG_SIGN_SPARK).alias("sign"),
        )
        .groupBy("doc_id", "chunk_no", "dim")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    q = (
        emb.filter(
            (F.col("doc_id") % 100 == 0)
            & (F.col("doc_id") < 1000)
            & (F.col("chunk_no") == 0)
        )
        .select(F.col("doc_id").alias("q_doc"), "dim", F.col("val").alias("qval"))
    )
    dots = (
        emb.join(F.broadcast(q), "dim")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("n_doc"), F.col("chunk_no").alias("n_chunk"))
        .agg(F.sum(F.col("qval") * F.col("val")).cast("bigint").alias("dot"))
    )
    w = Window.partitionBy("q_doc").orderBy(F.col("dot").desc(), "n_doc", "n_chunk")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_doc", "n_doc", "n_chunk", "dot", F.col("rn").cast("bigint").alias("rn"))
        .orderBy("q_doc", "rn")
    )


_RRF_K = 60
_RRF_SCALE = 1_000_000_000_000  # 1e12 // (60+rank) keeps 1e10-scale integers


@register(
    "rag_hybrid_rrf_fusion",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), emb AS MATERIALIZED (
  SELECT doc_id, {_RAG_DIM_DUCK} AS dim,
         CAST(sum({_RAG_SIGN_DUCK}) AS BIGINT) AS val
  FROM toks GROUP BY doc_id, dim
  HAVING sum({_RAG_SIGN_DUCK}) <> 0
), qe AS (
  SELECT doc_id AS q_doc, dim, val FROM emb
  WHERE doc_id % 100 = 0 AND doc_id < 1000
), dense AS (
  SELECT q_doc, n_doc, rd FROM (
    SELECT qe.q_doc, e.doc_id AS n_doc,
           row_number() OVER (PARTITION BY qe.q_doc
                              ORDER BY sum(qe.val * e.val) DESC, e.doc_id)
             AS rd
    FROM qe JOIN emb e ON e.dim = qe.dim AND e.doc_id <> qe.q_doc
    GROUP BY qe.q_doc, e.doc_id
  ) WHERE rd <= 20
), dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM toks
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
), nn AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks
), qt AS (
  SELECT doc_id AS q_doc, tok FROM dt
  WHERE doc_id % 100 = 0 AND doc_id < 1000
), sparse AS (
  SELECT q_doc, n_doc, rs FROM (
    SELECT qt.q_doc, d.doc_id AS n_doc,
           row_number() OVER (PARTITION BY qt.q_doc
                              ORDER BY sum(nn.n // f.df) DESC, d.doc_id) AS rs
    FROM qt
    JOIN dt d ON d.tok = qt.tok AND d.doc_id <> qt.q_doc
    JOIN dfreq f ON f.tok = qt.tok
    CROSS JOIN nn
    GROUP BY qt.q_doc, d.doc_id
  ) WHERE rs <= 20
), fused AS (
  SELECT coalesce(de.q_doc, sp.q_doc) AS q_doc,
         coalesce(de.n_doc, sp.n_doc) AS n_doc,
         CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + de.rd), 0)
              + coalesce({_RRF_SCALE} // ({_RRF_K} + sp.rs), 0) AS BIGINT)
           AS rrf_scaled,
         CAST(de.rd AS BIGINT) AS dense_rank,
         CAST(sp.rs AS BIGINT) AS sparse_rank
  FROM dense de FULL OUTER JOIN sparse sp
    ON sp.q_doc = de.q_doc AND sp.n_doc = de.n_doc
)
SELECT q_doc, n_doc, rrf_scaled, dense_rank, sparse_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_doc
                               ORDER BY rrf_scaled DESC, n_doc) AS rn
  FROM fused
) WHERE rn <= 5
""",
    doc="Hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
    "RRF — the standard production pattern fusing a dense vector list "
    "with a sparse lexical list): the dense leg ranks docs by exact "
    "inner product over the hashing-trick embedding index (dim-key "
    "posting join, the rag_chunk_index_mips machinery at doc grain); "
    "the sparse leg ranks by rarity-weighted term overlap (weight = "
    "N // df, an integer idf surrogate — deterministic, no ln); each "
    "leg keeps top-20, and RRF fuses them as floor(1e12/(60+rank)) "
    "per list (k=60, the published constant; the floor quantization "
    "is the declared contract, keeping fusion pure-integer), top-5 "
    "per query emitted with both source ranks (NULL when a doc "
    "appeared in only one list — visible evidence of why hybrid "
    "beats either leg alone). Scale: both legs are posting joins "
    "with the 10-query side broadcast; fusion is a full-outer join "
    "of two 200-row lists; WindowGroupLimit heaps everywhere.",
    tags=("llm",),
)
def rag_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    emb = (
        toks.select(
            "doc_id",
            F.expr(_RAG_DIM_SPARK).alias("dim"),
            F.expr(_RAG_SIGN_SPARK).alias("sign"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    probe = (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 1000)
    qe = emb.filter(probe).select(
        F.col("doc_id").alias("q_doc"), "dim", F.col("val").alias("qval")
    )
    wd = Window.partitionBy("q_doc").orderBy(F.col("dot").desc(), "n_doc")
    dense = (
        emb.join(F.broadcast(qe), "dim")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("n_doc"))
        .agg(F.sum(F.col("qval") * F.col("val")).cast("bigint").alias("dot"))
        .withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") <= 20)
        .select("q_doc", "n_doc", "rd")
    )
    dt = toks.distinct()
    dfreq = dt.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    nn = toks.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
    qt = dt.filter(probe).select(F.col("doc_id").alias("q_doc"), "tok")
    ws = Window.partitionBy("q_doc").orderBy(F.col("score").desc(), "n_doc")
    sparse = (
        dt.join(F.broadcast(qt), "tok")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(nn))
        .groupBy("q_doc", F.col("doc_id").alias("n_doc"))
        .agg(F.sum(F.expr("CAST(div(n, df) AS BIGINT)")).alias("score"))
        .withColumn("rs", F.row_number().over(ws))
        .filter(F.col("rs") <= 20)
        .select("q_doc", "n_doc", "rs")
    )
    de, sp = dense.alias("de"), sparse.alias("sp")
    fused = (
        de.join(
            sp,
            (F.col("de.q_doc") == F.col("sp.q_doc"))
            & (F.col("de.n_doc") == F.col("sp.n_doc")),
            "full_outer",
        )
        .select(
            F.coalesce("de.q_doc", "sp.q_doc").alias("q_doc"),
            F.coalesce("de.n_doc", "sp.n_doc").alias("n_doc"),
            (
                F.coalesce(
                    F.expr(f"CAST(div({_RRF_SCALE}, {_RRF_K} + de.rd) AS BIGINT)"),
                    F.lit(0),
                )
                + F.coalesce(
                    F.expr(f"CAST(div({_RRF_SCALE}, {_RRF_K} + sp.rs) AS BIGINT)"),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("rrf_scaled"),
            F.col("de.rd").cast("bigint").alias("dense_rank"),
            F.col("sp.rs").cast("bigint").alias("sparse_rank"),
        )
    )
    wf = Window.partitionBy("q_doc").orderBy(F.col("rrf_scaled").desc(), "n_doc")
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 5)
        .select("q_doc", "n_doc", "rrf_scaled", "dense_rank", "sparse_rank")
    )


def _mmr_round_sql(k: int) -> str:
    """One unrolled greedy MMR round as materialized CTEs: penalty =
    max inner product vs the already-selected set, pick = per-query
    argmax of rel - penalty (tie on n_doc)."""
    prev = f"sel{k - 1}"
    return f"""
pen{k} AS (
  SELECT c.q_doc, c.n_doc, max(p.ip) AS mx
  FROM cand c
  JOIN cpair p ON p.q_doc = c.q_doc AND p.a = c.n_doc
  JOIN {prev} s ON s.q_doc = p.q_doc AND s.n_doc = p.b
  GROUP BY c.q_doc, c.n_doc
),
sc{k} AS (
  SELECT c.q_doc, c.n_doc, c.rel,
         c.rel - coalesce(p.mx, 0) AS mmr,
         row_number() OVER (PARTITION BY c.q_doc
                            ORDER BY c.rel - coalesce(p.mx, 0) DESC, c.n_doc)
           AS rn
  FROM cand c
  LEFT JOIN pen{k} p ON p.q_doc = c.q_doc AND p.n_doc = c.n_doc
  WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                    WHERE s.q_doc = c.q_doc AND s.n_doc = c.n_doc)
),
pick{k} AS (
  SELECT q_doc, n_doc, rel, mmr, {k} AS pick_rank FROM sc{k} WHERE rn = 1
),
sel{k} AS MATERIALIZED (
  SELECT q_doc, n_doc, rel, mmr, pick_rank FROM {prev}
  UNION ALL SELECT q_doc, n_doc, rel, mmr, pick_rank FROM pick{k}
)"""


@register(
    "sim_mmr_diversified",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), emb AS MATERIALIZED (
  SELECT doc_id, {_RAG_DIM_DUCK} AS dim,
         CAST(sum({_RAG_SIGN_DUCK}) AS BIGINT) AS val
  FROM toks GROUP BY doc_id, dim
  HAVING sum({_RAG_SIGN_DUCK}) <> 0
), qe AS (
  SELECT doc_id AS q_doc, dim, val FROM emb
  WHERE doc_id % 100 = 0 AND doc_id < 1000
), cand AS MATERIALIZED (
  SELECT q_doc, n_doc, rel FROM (
    SELECT qe.q_doc, e.doc_id AS n_doc,
           CAST(sum(qe.val * e.val) AS BIGINT) AS rel,
           row_number() OVER (PARTITION BY qe.q_doc
                              ORDER BY sum(qe.val * e.val) DESC, e.doc_id)
             AS rd
    FROM qe JOIN emb e ON e.dim = qe.dim AND e.doc_id <> qe.q_doc
    GROUP BY qe.q_doc, e.doc_id
  ) WHERE rd <= 10
), cpair AS MATERIALIZED (
  SELECT ca.q_doc, ca.n_doc AS a, cb.n_doc AS b,
         CAST(sum(ea.val * eb.val) AS BIGINT) AS ip
  FROM cand ca JOIN cand cb
    ON cb.q_doc = ca.q_doc AND cb.n_doc <> ca.n_doc
  JOIN emb ea ON ea.doc_id = ca.n_doc
  JOIN emb eb ON eb.doc_id = cb.n_doc AND eb.dim = ea.dim
  GROUP BY ca.q_doc, ca.n_doc, cb.n_doc
), sel0(q_doc, n_doc, rel, mmr, pick_rank) AS (
  SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS INT) WHERE false
),
{",".join(_mmr_round_sql(k).lstrip() for k in (1, 2, 3, 4, 5))}
SELECT q_doc, n_doc, CAST(pick_rank AS BIGINT) AS pick_rank,
       rel AS rel_dot, mmr AS mmr_score
FROM sel5
""",
    doc="Maximal-marginal-relevance diversified retrieval (Carbonell & "
    "Goldstein 1998, lambda = 1/2 — the serving-side re-ranker that "
    "keeps a RAG context window from filling with five copies of the "
    "same passage): from each query's top-10 inner-product candidates, "
    "greedily pick 5, each round maximizing rel(c) - max_ip(c, "
    "already-selected). With lambda = 1/2 the MMR objective "
    "cross-multiplies to that pure-integer score, so selection is "
    "exact and engine-identical; the greedy recurrence unrolls as 5 "
    "materialized CTE rounds in the oracle and 5 DataFrame rounds in "
    "Spark (identical argmax tie-breaks), value-hashing every pick "
    "AND its marginal score. Scale: candidate generation is the "
    "posting-join MIPS; candidate-pair inner products are confined to "
    "the <= 10 docs per query (a broadcast-size set); each greedy "
    "round is a WindowGroupLimit argmax over <= 10 rows per query — "
    "the sequential part is O(k), never corpus-scale.",
    tags=("llm",),
)
def sim_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    emb = (
        toks.select(
            "doc_id",
            F.expr(_RAG_DIM_SPARK).alias("dim"),
            F.expr(_RAG_SIGN_SPARK).alias("sign"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    probe = (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 1000)
    qe = emb.filter(probe).select(
        F.col("doc_id").alias("q_doc"), "dim", F.col("val").alias("qval")
    )
    wd = Window.partitionBy("q_doc").orderBy(F.col("rel").desc(), "n_doc")
    cand = (
        emb.join(F.broadcast(qe), "dim")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", F.col("doc_id").alias("n_doc"))
        .agg(F.sum(F.col("qval") * F.col("val")).cast("bigint").alias("rel"))
        .withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") <= 10)
        .select("q_doc", "n_doc", "rel")
        # <=10 rows per query: collapse to a handful of partitions so the
        # five greedy rounds do not pay 32-task scheduling per step
        .coalesce(2)
        .localCheckpoint()
    )
    ca = cand.select("q_doc", F.col("n_doc").alias("a"))
    cb = cand.select(F.col("q_doc").alias("qb"), F.col("n_doc").alias("b"))
    ea = emb.select(F.col("doc_id").alias("a"), "dim", F.col("val").alias("va"))
    ebr = emb.select(F.col("doc_id").alias("b"), "dim", F.col("val").alias("vb"))
    cpair = (
        ca.join(cb, (ca["q_doc"] == cb["qb"]) & (ca["a"] != cb["b"]))
        .join(ea, "a")
        .join(ebr, ["b", "dim"])
        .groupBy("q_doc", "a", "b")
        .agg(F.sum(F.col("va") * F.col("vb")).cast("bigint").alias("ip"))
        .coalesce(2)
        .localCheckpoint()
    )
    sel = None  # rows: q_doc, n_doc, rel, mmr, pick_rank
    for k in range(1, 6):
        if sel is None:
            pen = None
            remaining = cand
        else:
            pen = (
                cpair.join(
                    sel.select(F.col("q_doc").alias("sq"), F.col("n_doc").alias("sb")),
                    (F.col("q_doc") == F.col("sq")) & (F.col("b") == F.col("sb")),
                )
                .groupBy("q_doc", "a")
                .agg(F.max("ip").alias("mx"))
                .select(F.col("q_doc").alias("pq"), F.col("a").alias("pn"), "mx")
            )
            remaining = cand.join(
                sel.select(F.col("q_doc").alias("sq"), F.col("n_doc").alias("sn")),
                (cand["q_doc"] == F.col("sq")) & (cand["n_doc"] == F.col("sn")),
                "left_anti",
            )
        if pen is None:
            scored = remaining.withColumn("mmr", F.col("rel"))
        else:
            scored = remaining.join(
                pen,
                (remaining["q_doc"] == pen["pq"]) & (remaining["n_doc"] == pen["pn"]),
                "left",
            ).select(
                "q_doc",
                "n_doc",
                "rel",
                (F.col("rel") - F.coalesce("mx", F.lit(0))).alias("mmr"),
            )
        wk = Window.partitionBy("q_doc").orderBy(F.col("mmr").desc(), "n_doc")
        pick = (
            scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select("q_doc", "n_doc", "rel", "mmr", F.lit(k).alias("pick_rank"))
        )
        sel = pick if sel is None else sel.unionByName(pick)
        sel = sel.coalesce(1).localCheckpoint()
    return sel.select(
        "q_doc",
        "n_doc",
        F.col("pick_rank").cast("bigint").alias("pick_rank"),
        F.col("rel").alias("rel_dot"),
        F.col("mmr").alias("mmr_score"),
    )


@register(
    "sim_filtered_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), emb AS MATERIALIZED (
  SELECT doc_id, {_RAG_DIM_DUCK} AS dim,
         CAST(sum({_RAG_SIGN_DUCK}) AS BIGINT) AS val
  FROM toks GROUP BY doc_id, dim
  HAVING sum({_RAG_SIGN_DUCK}) <> 0
), meta AS (
  SELECT doc_id, lang FROM documents
), qe AS (
  SELECT e.doc_id AS q_doc, m.lang AS q_lang, e.dim, e.val
  FROM emb e JOIN meta m USING (doc_id)
  WHERE e.doc_id % 100 = 0 AND e.doc_id < 1000
), dots AS (
  SELECT qe.q_doc, qe.q_lang, e.doc_id AS n_doc,
         CAST(sum(qe.val * e.val) AS BIGINT) AS dot
  FROM qe
  JOIN emb e ON e.dim = qe.dim AND e.doc_id <> qe.q_doc
  GROUP BY 1, 2, 3
), filtered AS (
  SELECT d.q_doc, d.n_doc, d.dot,
         row_number() OVER (PARTITION BY d.q_doc
                            ORDER BY d.dot DESC, d.n_doc) AS rn
  FROM dots d JOIN meta m ON m.doc_id = d.n_doc AND m.lang = d.q_lang
)
SELECT q_doc, n_doc, dot, CAST(rn AS BIGINT) AS rn
FROM filtered WHERE rn <= 5
""",
    doc="Filtered vector search (the metadata-constrained ANN every "
    "production vector store must serve: 'nearest neighbors WHERE "
    "lang = X' — the filter changes which k results are right, so it "
    "cannot be bolted on after an unfiltered top-k): each probe "
    "retrieves its top-5 inner-product neighbors restricted to "
    "documents sharing the probe's language, via post-filtering the "
    "posting-join candidate stream BEFORE the per-query heap (the "
    "pre-filter strategy; at selectivities below ~1% a 100-TB "
    "deployment flips to partition-pruned per-lang indexes — the "
    "IVF machinery here already partitions by cell, so the composed "
    "(lang, cell) key is the scale path). Exact BIGINT dots, "
    "deterministic (dot, n_doc) order. Scale: one dim-key posting "
    "join with the probe side broadcast; the lang filter joins a "
    "broadcast-size metadata dim; WindowGroupLimit per query.",
    tags=("llm",),
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    emb = (
        toks.select(
            "doc_id",
            F.expr(_RAG_DIM_SPARK).alias("dim"),
            F.expr(_RAG_SIGN_SPARK).alias("sign"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    meta = d.select("doc_id", "lang")
    qe = (
        emb.join(F.broadcast(meta), "doc_id")
        .filter((F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 1000))
        .select(
            F.col("doc_id").alias("q_doc"),
            F.col("lang").alias("q_lang"),
            "dim",
            F.col("val").alias("qval"),
        )
    )
    dots = (
        emb.join(F.broadcast(qe), "dim")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", "q_lang", F.col("doc_id").alias("n_doc"))
        .agg(F.sum(F.col("qval") * F.col("val")).cast("bigint").alias("dot"))
    )
    nm = meta.select(F.col("doc_id").alias("n_doc"), F.col("lang").alias("n_lang"))
    w = Window.partitionBy("q_doc").orderBy(F.col("dot").desc(), "n_doc")
    return (
        dots.join(F.broadcast(nm), "n_doc")
        .filter(F.col("n_lang") == F.col("q_lang"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_doc", "n_doc", "dot", F.col("rn").cast("bigint").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Graded ANN companions (r8): the four candidate-set ops above are
# rows-only by design (their row sets are engine/seed-specific, so no SQL
# oracle can replay them).  Each _graded key converts that into a
# DRIVER-HASHABLE self-grading verdict, the agg_approx_distinct pattern:
# compute the ANN result AND the exact answer in the same query, emit the
# oracle-replayable exact-side counts plus a recall>=threshold boolean
# with a wide measured margin (thresholds sit >=0.10 below the worst
# tri-scale measurement recorded in the key docs).  The exact side is a
# deliberate brute-force over the PROBE SET — O(probes x corpus), the
# verification harness a 100 TB deployment runs on sampled probes (which
# is precisely what the fixed vec_id % 100 probe set is).
# ---------------------------------------------------------------------------

_ANN_GRADED_ORACLE = """
WITH p AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes
  FROM embeddings WHERE vec_id % 100 = 0
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vec FROM embeddings
)
SELECT p.n_probes, CAST(10 AS BIGINT) AS k,
       CAST(p.n_probes * least(10, n.n_vec - 1) AS BIGINT) AS n_exact_rows,
       true AS recall_ok
FROM p CROSS JOIN n
"""


def _exact_euclid_topk(emb: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force euclidean top-k over the fixed probe set: broadcast
    probes against the corpus, JVM higher-order-function distance, one
    per-probe heap — the ground truth the graded keys compare against."""
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    pairs = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "pe",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("d2").asc(), F.col("neighbor_id"))
    return (
        pairs.select("probe_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "neighbor_id")
    )


def _ann_graded(spark: SparkSession, sf_dir: str, ann_fn, thr_permille: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = _exact_euclid_topk(emb)
    ann = ann_fn(spark, sf_dir).select("probe_id", "neighbor_id")
    n_probes = emb.filter(F.col("vec_id") % 100 == 0).agg(
        F.count("*").cast("bigint").alias("n_probes")
    )
    n_ex = ex.agg(F.count("*").cast("bigint").alias("n_exact_rows"))
    hits = ann.join(ex, ["probe_id", "neighbor_id"]).agg(
        F.count("*").cast("bigint").alias("hits")
    )
    return (
        n_probes.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_probes",
            F.lit(10).cast("bigint").alias("k"),
            "n_exact_rows",
            (
                F.col("hits") * 1000 >= F.lit(thr_permille) * F.col("n_exact_rows")
            ).alias("recall_ok"),
        )
    )


@register(
    "sim_ann_lsh_graded",
    oracle=_ANN_GRADED_ORACLE,
    doc="Self-grading verdict for sim_ann_lsh (which stays rows-only — "
    "its row set is bucket-specific): the same LSH top-10 is compared "
    "in-query against brute-force euclidean top-10 over the probe set, "
    "and the hash carries the oracle-replayable exact-side counts plus "
    "pooled micro-recall >= 0.75 (measured 0.96-1.00 across "
    "sf0.001/0.01/0.1 — threshold sits >=0.2 under the worst "
    "measurement).  Random-hyperplane hashes are per-vector pure "
    "functions of seed 42, so the verdict is deterministic and "
    "partition-invariant.",
    tags=("llm",),
)
def sim_ann_lsh_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_graded(spark, sf_dir, sim_ann_lsh, 750)


@register(
    "sim_ann_ivf_graded",
    oracle=_ANN_GRADED_ORACLE,
    doc="Self-grading verdict for sim_ann_ivf: pooled micro-recall >= 0.35 vs "
    "brute-force euclidean top-10 (measured 0.52-0.68 tri-scale).  The "
    "modest bar is the honest nprobe=2/nlist=8 coarse-quantizer "
    "CEILING — the config prunes 6 of 8 cells per query, trading "
    "recall for a 4x candidate cut; raising nprobe buys recall back "
    "(the knob a deployment tunes), and the graded key pins that "
    "ceiling cross-engine instead of leaving the op without any "
    "driver-hashable signal.",
    tags=("llm",),
)
def sim_ann_ivf_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_graded(spark, sf_dir, sim_ann_ivf, 350)


@register(
    "sim_ann_ivf_pq_graded",
    oracle=_ANN_GRADED_ORACLE,
    doc="Self-grading verdict for sim_ann_ivf_pq: pooled micro-recall >= 0.30 "
    "vs brute-force euclidean top-10 (measured 0.44-0.68 tri-scale; "
    "PQ's 8-byte codes cost a few points under the same "
    "nprobe=2/nlist=8 coarse ceiling as sim_ann_ivf, the RAM-for- "
    "recall trade the operator exists to make).",
    tags=("llm",),
)
def sim_ann_ivf_pq_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_graded(spark, sf_dir, sim_ann_ivf_pq, 300)


# ---------------------------------------------------------------------------
# High-recall IVF operating points (r9 VERDICT item 3): the nprobe=2/
# nlist=8 keys above pin the CHEAP end of the recall-vs-probe-cost
# curve (candidate fraction 0.25, recall 0.32-0.68); a production ANN
# deployment ships a >=0.8-recall point.  The tools/ann_sweep.py curve
# (SCALING.md "ANN recall-vs-probe-cost") shows recall tracks the
# candidate fraction nprobe/nlist on this embedding distribution, and
# nlist=16/nprobe=8 (fraction 0.5) measures 0.86/0.96/0.855 (IVF) and
# 0.86/0.96/0.83 (PQ, with ksub=64 codewords + shortlist=200 rerank)
# at sf0.001/0.01/0.1.  At 100 TB nlist scales to ~sqrt(N) cells and
# the same fraction knob trades scan cost for recall; the _hi keys pin
# the curve's high end cross-engine the way the base keys pin the low.
# ---------------------------------------------------------------------------


@register(
    "sim_ann_ivf_hi",
    oracle=None,  # approximate; recall graded by sim_ann_ivf_hi_graded
    doc="J4b-hi IVF ANN at the production-recall operating point: "
    "nlist=16 cells, nprobe=8 (candidate fraction 0.5) — measured "
    "recall@10 0.86-0.96 tri-scale vs brute force (tools/ann_sweep.py "
    "curve in SCALING.md).  Same partition-pruned candidate scan as "
    "sim_ann_ivf; only the cells-per-query knob moves.  rows-only; "
    "the _graded companion carries the driver-hashable verdict.",
)
def sim_ann_ivf_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, probes, k=10, nlist=16, nprobe=8, seed=42)


@register(
    "sim_ann_ivf_pq_hi",
    oracle=None,  # approximate; recall graded by sim_ann_ivf_pq_hi_graded
    doc="J4c-hi IVF-PQ ANN at the production-recall operating point: "
    "nlist=16, nprobe=8, ksub=64 codewords per subspace (6-bit codes), "
    "shortlist=200 exact rerank — measured recall@10 0.83-0.96 "
    "tri-scale.  The finer codebooks + deeper rerank lift the PQ "
    "ceiling the base key's ksub=16/shortlist=100 config hits (ADC "
    "ordering error, not cell pruning, caps its recall at ~0.84 even "
    "scanning every cell).  rows-only; graded companion carries the "
    "driver-hashable verdict.",
)
def sim_ann_ivf_pq_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_pq_topk(
        emb, probes, k=10, nlist=16, nprobe=8, ksub=64, shortlist=200, seed=42
    )


@register(
    "sim_ann_ivf_hi_graded",
    oracle=_ANN_GRADED_ORACLE,
    doc="Self-grading verdict for sim_ann_ivf_hi: pooled micro-recall >= 0.75 "
    "vs brute-force euclidean top-10 (measured 0.855-0.96 at "
    "sf0.001/0.01/0.1 — threshold sits >=0.10 under the worst "
    "measurement).  Paired with sim_ann_ivf_graded's 0.35 floor this "
    "pins BOTH ends of the recall-vs-probe-cost curve cross-engine.",
    tags=("llm",),
)
def sim_ann_ivf_hi_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_graded(spark, sf_dir, sim_ann_ivf_hi, 750)


@register(
    "sim_ann_ivf_pq_hi_graded",
    oracle=_ANN_GRADED_ORACLE,
    doc="Self-grading verdict for sim_ann_ivf_pq_hi: pooled micro-recall >= "
    "0.70 vs brute-force euclidean top-10 (measured 0.83-0.96 at "
    "sf0.001/0.01/0.1 — threshold sits >=0.13 under the worst "
    "measurement; PQ's residual ADC error costs a few points under "
    "the same nlist=16/nprobe=8 coarse config as sim_ann_ivf_hi).",
    tags=("llm",),
)
def sim_ann_ivf_pq_hi_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_graded(spark, sf_dir, sim_ann_ivf_pq_hi, 700)


@register(
    "dedup_minhash_near_graded",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(str_split(text, ' '), i.i,
                                    least(i.i + 2, len(str_split(text, ' ')))),
                         ' ') AS s
  FROM documents,
       UNNEST(range(1, greatest(len(str_split(text, ' ')) - 2, 1) + 1)) AS i(i)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS both
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), ex AS (
  SELECT i.doc_a FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 10 * i.both >= 7 * (sa.n + sb.n - i.both)
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, true AS recall_ok FROM ex
""",
    doc="Self-grading verdict for dedup_minhash_near: the LSH candidate "
    "pairs are compared in-query against the EXACT word-3-gram Jaccard "
    ">= 0.7 pair set (inverted-index posting join — the "
    "dedup_ngram_jaccard machinery at the minhash key's own shingle "
    "definition), and the hash carries the exact pair count (SQL- "
    "replayed by the oracle) plus pair-recall >= 0.85 (measured 1.00 "
    "at all three scales: 5 minhash tables at Jaccard 0.7 collide "
    "with probability ~1).  MinHash signatures are per-row pure "
    "functions of seed 42 — deterministic, partition-invariant.",
    tags=("llm",),
)
def dedup_minhash_near_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.skew import fan_out

    # the dedup_ngram_jaccard shape (r14): fan the explode-amplified
    # split off the single-split scan, and carry |shingles(doc)| THROUGH
    # the explode as a per-row column (the array is sized before
    # exploding) — no separate `sizes` aggregate subtree re-exploding
    # the corpus and no two join-backs; n is a group key (constant per
    # doc) in the pair rollup
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("w")
        ),
        "doc_id",
    )
    gs = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("w") - 2, F.lit(1))),
                lambda i: F.array_join(F.slice("w", i, 3), " "),
            )
        ).alias("gs"),
    )
    sh = gs.select("doc_id", F.size("gs").alias("n"), F.explode("gs").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("both"))
    )
    exact = inter.filter(
        10 * F.col("both") >= 7 * (F.col("na") + F.col("nb") - F.col("both"))
    ).select("doc_a", "doc_b")
    ann = dedup_minhash_near(spark, sf_dir).select("doc_a", "doc_b")
    n_ex = exact.agg(F.count("*").cast("bigint").alias("n_exact_pairs"))
    hits = ann.join(exact, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("bigint").alias("hits")
    )
    return n_ex.crossJoin(F.broadcast(hits)).select(
        "n_exact_pairs",
        (F.col("hits") * 100 >= F.lit(85) * F.col("n_exact_pairs")).alias("recall_ok"),
    )
