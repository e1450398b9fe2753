"""Training-data prep operators: deterministic sampling/splits, table
profiling, exact higher moments, dedup clustering (connected components).

Reference grounding [P]: cobradb's loaders sample/QA incoming datasets
before load (SURVEY §1.2 upsert audit); a 100 TB training pipeline adds
deterministic splits (reproducible without storing membership),
profiling (schema drift checks), and component-clustering of near-dup
candidate pairs (the step after MinHash banding in queries/llm.py).

Determinism across engines uses the md5-bucket trick (MEMORY:
oracle-parity-pitfalls): Spark `conv(substring(md5(x),1,15),16,10)` ==
DuckDB `CAST('0x'||substr(md5(x),1,15) AS UBIGINT)` — 60 bits, fits
BIGINT.  This is also the RIGHT design at scale: a hash-derived sample
is stable under reruns, partition-local (no shuffle, no RNG state), and
pushes down as an ordinary filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.buckets import bucket as _bucket
from cobradb_spark.buckets import bucket_sql as _bucket_sql
from cobradb_spark.io import load_table
from cobradb_spark.registry import register


@register(
    "sample_hash_deterministic",
    oracle=f"""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE {_bucket_sql('o_orderkey', 's1')} < 10
""",
    doc="Deterministic ~10% sample: md5-bucket filter, no RNG. Scale: pure "
    "narrow filter — partition-local, rerun-stable, pushes below joins; unlike "
    "TABLESAMPLE the membership is reproducible from the key alone.",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(_bucket("o_orderkey", "s1") < 10).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "sample_stratified",
    oracle=f"""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE {_bucket_sql('o_orderkey', 's2')} <
      CASE o_orderstatus WHEN 'F' THEN 5 WHEN 'O' THEN 20 ELSE 50 END
""",
    doc="Stratified sample (per-stratum fraction: F 5%, O 20%, P 50%) — the "
    "downsample-majority-class primitive. Same md5 bucket, threshold varies by "
    "stratum; still a narrow filter (sampleBy() without its RNG nondeterminism).",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    thresh = (
        F.when(F.col("o_orderstatus") == "F", 5)
        .when(F.col("o_orderstatus") == "O", 20)
        .otherwise(50)
    )
    return o.filter(_bucket("o_orderkey", "s2") < thresh).select(
        "o_orderkey", "o_orderstatus"
    )


@register(
    "split_train_test",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_bucket_sql('doc_id', 'split')} < 80 THEN 'train'
            WHEN {_bucket_sql('doc_id', 'split')} < 90 THEN 'val'
            ELSE 'test' END AS split,
       n_chars
FROM documents
""",
    doc="Reproducible 80/10/10 train/val/test assignment by key hash — no "
    "stored membership table, no shuffle; any worker can recompute a row's "
    "split locally, so the split survives repartitioning and reruns.",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = _bucket("doc_id", "split")
    return d.select(
        "doc_id",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        "n_chars",
    )


@register(
    "profile_table",
    oracle="""
SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT), CAST(count(*) - count(o_custkey) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT), CAST(count(*) - count(o_totalprice) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       min(o_totalprice), max(o_totalprice), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT), CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       NULL, NULL, min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) AS BIGINT), CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       NULL, NULL, min(o_orderpriority), max(o_orderpriority)
FROM orders
""",
    doc="Column profiler (nulls / distincts / min / max per column) in ONE scan: "
    "all per-column aggregates in a single agg, reshaped to rows with stack(). "
    "The oracle unions five scans; at 100 TB the single-scan shape is the point "
    "(multiple count-distincts share one Expand, not five table reads).",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = [F.count("*").alias("n_rows")]
    for c in num_cols + str_cols:
        aggs += [
            F.count(c).alias(f"cnt_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    wide = o.agg(*aggs)
    stack_args = []
    for c in num_cols:
        stack_args.append(
            f"'{c}', cnt_{c}, nd_{c}, CAST(min_{c} AS DOUBLE), CAST(max_{c} AS DOUBLE), "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in str_cols:
        stack_args.append(
            f"'{c}', cnt_{c}, nd_{c}, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"min_{c}, max_{c}"
        )
    stacked = wide.select(
        "n_rows",
        F.expr(
            f"stack({len(stack_args)}, "
            + ", ".join(stack_args)
            + ") AS (col_name, cnt, n_distinct, min_num, max_num, min_str, max_str)"
        ),
    )
    return stacked.select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("cnt")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


@register(
    "agg_skew_kurt",
    oracle="""
WITH mu AS (
  SELECT o_orderpriority, avg(o_totalprice) AS mu
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       round(avg(pow(o.o_totalprice - m.mu, 3))
             / pow(avg(pow(o.o_totalprice - m.mu, 2)), 1.5), 6) AS skewness,
       round(avg(pow(o.o_totalprice - m.mu, 4))
             / pow(avg(pow(o.o_totalprice - m.mu, 2)), 2) - 3, 6) AS kurtosis
FROM orders o JOIN mu m USING (o_orderpriority)
GROUP BY o.o_orderpriority
""",
    doc="Population skewness / excess kurtosis via explicit two-pass centered "
    "moments (SURVEY §2 D7 — built-in skewness()/kurtosis() estimators differ "
    "across engines, the moment formula doesn't). Pass 1 = tiny per-group mean "
    "(broadcast back); pass 2 = centered powers. Numerically safer than the "
    "one-pass raw-moment expansion (E[x^4] cancellation) at any scale.",
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    mu = o.groupBy("o_orderpriority").agg(F.avg("o_totalprice").alias("mu"))
    d = o.join(F.broadcast(mu), "o_orderpriority").withColumn(
        "d", F.col("o_totalprice") - F.col("mu")
    )
    m2 = F.avg(F.pow("d", F.lit(2)))
    return d.groupBy("o_orderpriority").agg(
        F.round(F.avg(F.pow("d", F.lit(3))) / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(F.avg(F.pow("d", F.lit(4))) / F.pow(m2, F.lit(2)) - 3, 6).alias("kurtosis"),
    )


# ---------------------------------------------------------------------------
# Connected components over a dedup candidate graph.
# ---------------------------------------------------------------------------

_CC_DOCS_SQL = """
  SELECT doc_id, text FROM documents WHERE n_chars >= 80
  UNION ALL
  SELECT doc_id + 100000, text || ' v1' FROM documents WHERE n_chars >= 80
  UNION ALL
  SELECT doc_id + 200000, 'xx ' || text FROM documents WHERE n_chars >= 80
  UNION ALL
  SELECT doc_id + 300000, 'xx ' || (text || ' v1') FROM documents WHERE n_chars >= 80
"""


@register(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE docs AS ({_CC_DOCS_SQL}),
ks AS (
  SELECT doc_id, concat('P', substr(text, 1, 30)) AS k FROM docs
  UNION ALL
  SELECT doc_id, concat('S', right(text, 30)) AS k FROM docs
),
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM ks a JOIN ks b ON a.k = b.k AND a.doc_id <> b.doc_id
),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
)
SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS component_id
FROM reach GROUP BY src
""",
    doc="Connected components over a near-dup candidate graph — the step AFTER "
    "MinHash/SimHash banding: candidate pairs (here: shared 30-char prefix or "
    "suffix fingerprint, over documents plus two generations of mutated copies "
    "so components have diameter 3) must be transitively merged before picking "
    "one survivor per cluster. Spark side: the hash-min operator shared by the "
    "four clustering keys (operators/fixpoint.components; loud failure past 12 "
    "rounds — the Pregel/GraphX formulation; at 100 TB swap in large-star/"
    "small-star to bound skew on giant components). Oracle: DuckDB "
    "recursive-CTE reachability.",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.fixpoint import components

    base = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 80).select(
        "doc_id", "text"
    )
    docs = (
        base
        .unionByName(base.select((F.col("doc_id") + 100000).alias("doc_id"),
                                 F.concat("text", F.lit(" v1")).alias("text")))
        .unionByName(base.select((F.col("doc_id") + 200000).alias("doc_id"),
                                 F.concat(F.lit("xx "), "text").alias("text")))
        .unionByName(base.select((F.col("doc_id") + 300000).alias("doc_id"),
                                 F.concat(F.lit("xx "), F.concat("text", F.lit(" v1"))).alias("text")))
    )
    ks = docs.select(
        "doc_id", F.concat(F.lit("P"), F.substring("text", 1, 30)).alias("k")
    ).unionByName(
        docs.select("doc_id", F.concat(F.lit("S"), F.expr("right(text, 30)")).alias("k"))
    )
    # join-free candidate edges (the _strong_pairs / _copurchase_edges
    # build, r14): docs sharing a fingerprint group into one sorted set
    # per key, i<j pairs stream from a two-step lateral explode, and the
    # symmetric closure unions the swap — 2 exchanges and no join probe
    # vs the ks-self-join's 3; the i<j half and its swap are disjoint,
    # so the distinct runs on half the rows.  Per-key sets are the
    # near-dup cluster sizes (bounded by the mutation fan-out), so the
    # explode cannot concentrate into hub tasks.
    grouped = ks.groupBy("k").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    anchored = grouped.select("ds", F.posexplode("ds").alias("i", "a"))
    half = (
        anchored.select(
            F.col("a").alias("src"),
            F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("dst"),
        )
        .distinct()
    )
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # the mutation families have diameter 3; the round cap is generous
    labels = components(
        edges, docs.select("doc_id"), max_rounds=12, name="dedup_cluster_cc"
    )
    edges.unpersist()
    return labels.select(F.col("n").alias("doc_id"), F.col("comp").alias("component_id"))


@register(
    "etl_shard_balanced",
    oracle="""
WITH t AS (
  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS tokens FROM documents
), r AS (
  SELECT doc_id, tokens,
         row_number() OVER (ORDER BY tokens DESC, doc_id) AS rnk
  FROM t
)
SELECT CAST((rnk - 1) % 8 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS sum_tokens
FROM r GROUP BY 1
""",
    doc="Balanced training-shard packing: docs ranked by token count "
    "descending, dealt round-robin into 8 shards (LPT-style — shard token "
    "masses stay within one max-doc of each other). The rank comes from "
    "operators/rank.py::global_rank — range-partition + offset-sum, NOT the "
    "single-partition window a naive row_number() would plan, so the op "
    "survives a 100 TB corpus. Output = per-shard doc count and token mass.",
)
def etl_shard_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("tokens")
    )
    ranked = global_rank(d, [F.col("tokens").desc(), F.col("doc_id")], rank_col="rnk")
    return (
        ranked.withColumn("shard_id", ((F.col("rnk") - 1) % 8).cast("long"))
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
        )
    )


@register(
    "sample_weighted_bernoulli",
    oracle="""
WITH u AS (
  SELECT doc_id, n_chars, lang,
         CAST(CAST(concat('0x', substr(md5(concat('w1', CAST(doc_id AS VARCHAR))), 1, 15))
              AS UBIGINT) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, n_chars, lang,
       round(least(CAST(n_chars AS DOUBLE) / 400, 1.0), 6) AS p
FROM u
WHERE CAST(h AS DOUBLE) / 1152921504606846976 < least(CAST(n_chars AS DOUBLE) / 400, 1.0)
""",
    doc="Quality-weighted Bernoulli sampling: keep each document with "
    "probability p = min(n_chars/400, 1) — longer (proxy: higher-value) docs "
    "upsampled — decided by comparing a 60-bit md5 uniform draw against p. "
    "Same determinism story as sample_hash_deterministic: no RNG state, "
    "rerun-stable membership, pure narrow filter that pushes below any "
    "downstream join; this is how a 100 TB pipeline mixes sources at "
    "configured rates without a shuffle or a stored membership table.",
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("w1"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    p = F.least(F.col("n_chars").cast("double") / 400, F.lit(1.0))
    return (
        d.withColumn("u", h.cast("double") / F.lit(float(1 << 60)))
        .filter(F.col("u") < p)
        .select("doc_id", "n_chars", "lang", F.round(p, 6).alias("p"))
    )


# Two-round Lloyd assignment as DuckDB CTEs (k=8, seeds = 8 lowest
# vec_ids, per-iteration rounding matching operators/kmeans.py) — shared
# by embed_kmeans_cluster and dedup_semantic_cluster.
_KMEANS_ASSIGN_SQL = """
e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, i, x FROM e
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
),
d1 AS (SELECT e.vec_id, c.cid, round(sum((e.x - c.x) * (e.x - c.x)), 9) AS d
       FROM e JOIN c0 c USING (i) GROUP BY e.vec_id, c.cid),
a1 AS (SELECT vec_id, cid, d,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       FROM d1),
c1 AS (SELECT a.cid, e.i, round(avg(e.x), 9) AS x
       FROM a1 a JOIN e ON a.vec_id = e.vec_id WHERE a.rn = 1
       GROUP BY a.cid, e.i),
d2 AS (SELECT e.vec_id, c.cid, round(sum((e.x - c.x) * (e.x - c.x)), 9) AS d
       FROM e JOIN c1 c USING (i) GROUP BY e.vec_id, c.cid),
a2 AS (SELECT vec_id, cid, d,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       FROM d2)
"""


@register(
    "embed_kmeans_cluster",
    oracle=f"""
WITH {_KMEANS_ASSIGN_SQL}
SELECT vec_id, cid AS cluster, round(d, 6) AS sqdist FROM a2 WHERE rn = 1
""",
    doc="Lloyd k-means (k=8, 2 assignment rounds, seeds = 8 lowest vec_ids) "
    "over the embedding table — the embedding-cluster step behind balanced "
    "sampling / diversity filtering in a training-data pipeline. Centroids "
    "are query constants: each assignment is a literal-array narrow map "
    "(transform + array_min over struct(d, cid) — zero shuffle, no UDF); "
    "the update shuffles only k x dim partial averages per partition. "
    "Distances/centroids rounded to 9 per iteration for cross-engine bit "
    "parity; argmin ties break on lowest centroid id (operators/kmeans.py).",
    tags=("mlprep",),
)
def embed_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.kmeans import kmeans_assign

    return kmeans_assign(load_table(spark, sf_dir, "embeddings"), k=8, iters=2)


@register(
    "dedup_semantic_cluster",
    oracle=f"""
WITH {_KMEANS_ASSIGN_SQL},
assign AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, ca.cluster,
         sum(a.x * b.x) AS dot
  FROM e a
  JOIN assign ca ON ca.vec_id = a.vec_id
  JOIN assign cb ON cb.cluster = ca.cluster
  JOIN e b ON b.vec_id = cb.vec_id AND b.i = a.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
),
near AS (
  SELECT d.b_id AS dropped_id, d.cluster, d.a_id,
         d.dot / (na.nrm * nb.nrm) AS cos
  FROM dots d
  JOIN norms na ON na.vec_id = d.a_id
  JOIN norms nb ON nb.vec_id = d.b_id
  WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
)
SELECT dropped_id, cluster,
       CAST(min(a_id) AS BIGINT) AS kept_id,
       CAST(count(*) AS BIGINT) AS n_near,
       round(max(cos), 6) AS max_cos
FROM near GROUP BY dropped_id, cluster
""",
    doc="Semantic deduplication (SemDeDup shape): k-means-cluster the "
    "embeddings (shared operators/kmeans.py kernel, k=8, 2 rounds, "
    "deterministic seeds), then search near-duplicates (cosine >= 0.4) "
    "ONLY within each cluster — the scale story: candidate generation is "
    "bucketed by cluster, so pair cost is sum over clusters of |c|^2 "
    "instead of n^2, and the self-join co-partitions on the cluster key "
    "in one shuffle. Emits the prune list: each dropped vector (the "
    "higher id of a near pair) with its lowest-id kept partner, its "
    "near-partner count, and the max cosine as evidence; min-id-survives "
    "matches the other dedup families. Cosine is a JVM zip_with/aggregate "
    "fold over float32-exact double products — no UDF. At 100 TB: k "
    "scales as n/target-cluster-size, and a mega-cluster (skewed k-means) "
    "would be recursively re-clustered or capped before pairing — the "
    "same discipline as the hub cap in graph_jaccard_neighbors.",
    tags=("mlprep", "dedup"),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assign(emb, k=8, iters=2).select("vec_id", "cluster")
    # vectors stay FLOAT through the pair join and cast to double only
    # inside the products (float->double is exact, so every dot/nrm is
    # bit-identical to the old cast-up-front formulation) — the cluster
    # self-join shuffles each embedding at half the bytes (guide §2.3
    # narrower types; the arrays dominate the pair rows)
    ex = emb.select("vec_id", F.col("embedding").alias("v")).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                "v",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
    )
    vc = ex.join(assign, "vec_id")
    a = vc.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "cluster",
    )
    b = vc.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("cluster").alias("cluster_b"),
    )
    pairs = a.join(
        b,
        (F.col("cluster") == F.col("cluster_b")) & (F.col("a_id") < F.col("b_id")),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("na") * F.col("nb"))
    near = pairs.select(
        F.col("b_id").alias("dropped_id"), "cluster", "a_id", cos.alias("cos")
    ).filter(F.col("cos") >= 0.4)
    return near.groupBy("dropped_id", "cluster").agg(
        F.min("a_id").alias("kept_id"),
        F.count("*").alias("n_near"),
        F.round(F.max("cos"), 6).alias("max_cos"),
    )


@register(
    "sample_weighted_topk",
    oracle="""
WITH u AS (
  SELECT doc_id, lang, n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('ares1', CAST(doc_id AS VARCHAR))), 1, 15))
              AS UBIGINT) AS BIGINT) AS h
  FROM documents
), keyed AS (
  SELECT doc_id, lang, n_chars,
         round(pow(CAST(h AS DOUBLE) / 1152921504606846976,
                   1.0 / CAST(n_chars AS DOUBLE)), 12) AS wkey
  FROM u
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY wkey DESC, doc_id) AS rn
  FROM keyed
)
SELECT lang, doc_id, n_chars, wkey, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5
""",
    doc="Weighted sampling WITHOUT replacement, top-5 per language, via the "
    "Efraimidis-Spirakis A-Res scheme: key = u^(1/w) with w = n_chars and u "
    "a deterministic 60-bit md5 draw — inclusion probability proportional "
    "to weight, membership rerun-stable with no RNG state. The keying is a "
    "narrow map; per-stratum top-k runs as a windowed rank (WindowGroupLimit "
    "prunes per partition before the shuffle). Keys rounded to 12 so both "
    "engines rank the identical values; ties break on doc_id.",
    tags=("mlprep",),
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ares1"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = h.cast("double") / F.lit(float(1 << 60))
    wkey = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 12)
    w = Window.partitionBy("lang").orderBy(F.col("wkey").desc(), "doc_id")
    return (
        d.select("lang", "doc_id", "n_chars", wkey.alias("wkey"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "profile_skew_keys",
    oracle="""
WITH freq AS (
  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
), stats AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS n_keys
  FROM freq
), ranked AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rnk FROM freq
)
SELECT CAST(r.rnk AS BIGINT) AS rnk, r.key, r.n,
       round(r.n / s.total, 6) AS share,
       round(r.n / (s.total / s.n_keys), 6) AS ratio_to_avg
FROM ranked r, stats s WHERE r.rnk <= 10
""",
    doc="Join-key skew diagnosis: per-key frequencies for l_suppkey, the 10 "
    "heaviest keys with their row share and hot-key ratio vs the mean key. "
    "This is the report that decides WHEN to salt or enable AQE skew-join "
    "(join_salted_skew / the AQE test are the mitigations). The frequency "
    "pass is partial+final (shuffle = #keys), the global top-10 is a "
    "TakeOrdered heap (no full sort), and the 1-row stats broadcast.",
    tags=("mlprep",),
)
def profile_skew_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("n"))
    stats = freq.agg(
        F.sum("n").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_keys"),
    )
    # top-10 via orderBy+limit => TakeOrderedAndProject (per-partition
    # heaps, no global sort); the rank window then runs on 10 rows only.
    w = Window.orderBy(F.col("n").desc(), "key")
    top = (
        freq.orderBy(F.col("n").desc(), "key")
        .limit(10)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rnk",
        "key",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
        F.round(F.col("n") / (F.col("total") / F.col("n_keys")), 6).alias("ratio_to_avg"),
    )


@register(
    "etl_k_anonymize",
    oracle="""
WITH q AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS b1,
         CAST(floor(c_acctbal / 5000) AS BIGINT) AS b5
  FROM customer
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS total_rows FROM q),
s1 AS (SELECT coalesce(sum(n), 0) AS sup FROM
       (SELECT count(*) AS n FROM q GROUP BY nat, seg, b1 HAVING count(*) < 5)),
s2 AS (SELECT coalesce(sum(n), 0) AS sup FROM
       (SELECT count(*) AS n FROM q GROUP BY nat, seg, b5 HAVING count(*) < 5)),
s3 AS (SELECT coalesce(sum(n), 0) AS sup FROM
       (SELECT count(*) AS n FROM q GROUP BY seg, b5 HAVING count(*) < 5)),
lvl AS (SELECT CASE WHEN s1.sup / tot.total_rows <= 0.05 THEN 1
                    WHEN s2.sup / tot.total_rows <= 0.05 THEN 2
                    WHEN s3.sup / tot.total_rows <= 0.05 THEN 3
                    ELSE 4 END AS level
        FROM s1, s2, s3, tot),
g AS (SELECT CASE (SELECT level FROM lvl)
               WHEN 1 THEN nat WHEN 2 THEN nat ELSE '*' END AS nat,
             CASE WHEN (SELECT level FROM lvl) <= 3 THEN seg ELSE '*' END AS seg,
             CASE (SELECT level FROM lvl)
               WHEN 1 THEN 'B1:' || CAST(b1 AS VARCHAR)
               WHEN 2 THEN 'B5:' || CAST(b5 AS VARCHAR)
               WHEN 3 THEN 'B5:' || CAST(b5 AS VARCHAR)
               ELSE '*' END AS bal_bucket
      FROM q),
counts AS (SELECT nat, seg, bal_bucket, CAST(count(*) AS BIGINT) AS n
           FROM g GROUP BY 1, 2, 3)
SELECT CAST((SELECT level FROM lvl) AS INT) AS level, nat, seg, bal_bucket,
       CASE WHEN n >= 5 THEN nat ELSE '*' END AS rel_nat,
       CASE WHEN n >= 5 THEN seg ELSE '*' END AS rel_seg,
       CASE WHEN n >= 5 THEN bal_bucket ELSE '*' END AS rel_bucket,
       n
FROM counts
""",
    doc="k-anonymity (k=5) by Samarati global recoding + suppression — the "
    "privacy gate a training-data release runs before shipping tabular "
    "quasi-identifiers. Generalization ladder on customer "
    "(nation, segment, acctbal): L1 = $1000 balance buckets, L2 = $5000 "
    "buckets, L3 = drop nation; the released level is the FINEST whose "
    "small-group (< k) row fraction is within the 5%% suppression "
    "budget, decided from three metadata-scale aggregates (one tiny "
    "collect each — never a data-scale driver move). Groups still under "
    "k at the chosen level release as '*' (suppressed); every "
    "non-suppressed released tuple is shared by >= k customers. The "
    "level decision and the released partition are both deterministic, "
    "so the full output hash-matches the oracle's identical CTE ladder.",
    tags=("mlprep",),
)
def etl_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, BUDGET = 5, 0.05
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").cast("string").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("b1"),
        F.floor(F.col("c_acctbal") / 5000).cast("long").alias("b5"),
    )
    # ONE action for all four metadata-scale aggregates (r14 verdict
    # item 9, the PPR fold pattern): the old shape ran q.count() plus
    # three suppressed-sum .first()s — four jobs, each re-scanning the
    # table.  A union of the four bounded aggregates collects in one
    # job; the level decision reads the same numbers.
    def suppressed(i: int, *cols):
        return (
            q.groupBy(*cols)
            .count()
            .filter(F.col("count") < K)
            .agg(F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("v"))
            .select(F.lit(i).alias("i"), "v")
        )

    stats = {
        r["i"]: r["v"]
        for r in (
            q.agg(F.count("*").cast("long").alias("v"))
            .select(F.lit(0).alias("i"), "v")
            .unionByName(suppressed(1, "nat", "seg", "b1"))
            .unionByName(suppressed(2, "nat", "seg", "b5"))
            .unionByName(suppressed(3, "seg", "b5"))
            .collect()
        )
    }
    total = stats[0]
    sups = [stats[1], stats[2], stats[3]]
    level = next((i + 1 for i, s in enumerate(sups) if s / total <= BUDGET), 4)

    star = F.lit("*")
    if level == 1:
        nat, seg, bucket = F.col("nat"), F.col("seg"), F.concat(F.lit("B1:"), "b1")
    elif level == 2:
        nat, seg, bucket = F.col("nat"), F.col("seg"), F.concat(F.lit("B5:"), "b5")
    elif level == 3:
        nat, seg, bucket = star, F.col("seg"), F.concat(F.lit("B5:"), "b5")
    else:
        nat, seg, bucket = star, star, star
    counts = (
        q.select(nat.alias("nat"), seg.alias("seg"), bucket.alias("bal_bucket"))
        .groupBy("nat", "seg", "bal_bucket")
        .agg(F.count("*").alias("n"))
    )
    small = F.col("n") < K
    return counts.select(
        F.lit(level).cast("int").alias("level"),
        "nat",
        "seg",
        "bal_bucket",
        F.when(small, star).otherwise(F.col("nat")).alias("rel_nat"),
        F.when(small, star).otherwise(F.col("seg")).alias("rel_seg"),
        F.when(small, star).otherwise(F.col("bal_bucket")).alias("rel_bucket"),
        "n",
    )


@register(
    "sample_reservoir_per_group",
    oracle="""
SELECT event_type, event_id, user_id, rn FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ((event_id % 1000003) * 2654435761) % 4294967296,
                                     event_id) AS rn
  FROM events) t
WHERE rn <= 50
""",
    doc="Deterministic fixed-k per-group sample (k = 50 per event_type) — "
    "the ML-prep primitive for balanced eval/debug slices. Selection "
    "order is a Knuth multiplicative hash of the unique row id computed "
    "in overflow-safe exact integer arithmetic (id reduced mod a prime "
    "before the multiply — the raw product would overflow BIGINT past "
    "id ~3.4e9), so BOTH engines (and every rerun at "
    "any partitioning) pick the identical pseudo-random subset — the "
    "reproducibility property rand()-based sampling lacks. The window "
    "partitions by group key, so ranking distributes across groups; at "
    "100 TB with billions of rows per group, the same hash order feeds "
    "a per-group top-k heap (rank <= k never needs the full sort).",
    tags=("mlprep",),
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # reduce the id modulo a prime BEFORE the multiply: the raw product
    # overflows BIGINT past id ~3.4e9, where Spark wraps and DuckDB
    # errors — the reduced product tops out at ~2.7e15, exact in both
    # engines at any id; ids sharing a residue order by the id tiebreak
    hk = F.pmod(
        F.pmod(F.col("event_id"), F.lit(1000003)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    w = Window.partitionBy("event_type").orderBy(hk, "event_id")
    return (
        ev.select("event_type", "event_id", "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
    )



# --- embed_pca_power: distributed PCA, exact cross-engine integers ---
_PCA_K = 120  # fixed power-iteration rounds (both engines replay the same K)
_PCA_D = 64  # embedding dimensionality (asserted at runtime)


def _pca_oracle() -> str:
    """Generate the chained-CTE oracle: integer covariance + K unrolled
    max-normalized power-iteration steps (no recursion — K is fixed, so
    the loop unrolls to static SQL)."""
    steps = []
    for t in range(1, _PCA_K + 1):
        steps.append(f"""
y{t} AS MATERIALIZED (
  SELECT c.j, sum(c.c * v.v) AS y
  FROM cov c JOIN it{t - 1} v ON c.k = v.j GROUP BY c.j
),
it{t} AS MATERIALIZED (
  SELECT j, (y * 1000000) // (SELECT max(abs(y)) FROM y{t}) AS v FROM y{t}
),""")
    last = f"it{_PCA_K}"
    return f"""
WITH x AS MATERIALIZED (
  SELECT vec_id, a.j AS j, CAST(a.xj AS DOUBLE) AS xj
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS j,
                       unnest(embedding) AS xj) a
),
nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
b AS MATERIALIZED (
  SELECT j, CAST(sum(CAST(floor(xj * 1000000.0) AS BIGINT)) AS HUGEINT) AS bj
  FROM x GROUP BY j
),
a2 AS MATERIALIZED (
  SELECT p.j AS j, q.j AS k,
         CAST(sum(CAST(floor(p.xj * q.xj * 1000000000000.0) AS BIGINT))
              AS HUGEINT) AS ajk
  FROM x p JOIN x q ON p.vec_id = q.vec_id
  GROUP BY p.j, q.j
),
cov AS MATERIALIZED (
  SELECT a2.j, a2.k,
         a2.ajk * (SELECT n FROM nn) - b1.bj * b2.bj AS c
  FROM a2 JOIN b b1 ON a2.j = b1.j JOIN b b2 ON a2.k = b2.j
),
it0 AS MATERIALIZED (SELECT j, CAST(1000000 AS HUGEINT) AS v FROM b),
{"".join(steps)}
vt AS (SELECT sum(v * v) AS vtv FROM {last}),
ray AS (
  SELECT sum(v1.v * c.c * v2.v) AS lq
  FROM cov c JOIN {last} v1 ON c.j = v1.j JOIN {last} v2 ON c.k = v2.j
),
tr AS (SELECT sum(c) AS tr FROM cov WHERE j = k)
SELECT v.j AS dim,
       CAST(v.v AS DOUBLE) / 1000000.0 AS loading,
       CAST(ray.lq AS DOUBLE) / CAST(vt.vtv AS DOUBLE)
           / CAST(nn.n * nn.n AS DOUBLE) / 1000000000000.0 AS eigenvalue,
       CAST(ray.lq AS DOUBLE) / CAST(vt.vtv AS DOUBLE)
           / CAST(tr.tr AS DOUBLE) AS explained_ratio
FROM {last} v, vt, ray, tr, nn
"""


@register(
    "embed_pca_power",
    oracle=_pca_oracle(),
    doc=f"Distributed PCA (top principal component) over the embedding "
    "table: ONE Arrow-batched partial-reduction pass builds the exact "
    "integer covariance grid (per-element floor(x_j*x_k*1e12) partials "
    "summed in BIGINT, mean term via floor(x_j*1e6) sums), then "
    f"{_PCA_K} rounds of max-normalized power iteration run on the "
    f"constant-size {_PCA_D}x{_PCA_D} grid in exact arbitrary-precision "
    "integer arithmetic (loadings held as 1e6-scale integers, "
    "truncating division — both engines replay the identical sequence, "
    "so the result is hash-exact without any convergence assumption). "
    "Outputs per-dimension loadings plus the Rayleigh eigenvalue and "
    "explained-variance ratio. Scale posture: the data-sized work is "
    "one mapInPandas reduction emitting d^2 rows per batch — at 100 TB "
    "(billions of vectors) the shuffle is d^2 x num_batches regardless "
    "of row count, and the iteration cost is O(K d^2) constant — the "
    "classic tall-skinny covariance-PCA decomposition. The oracle "
    "unrolls the K iterations as chained CTEs over HUGEINT (int128; "
    "magnitudes proven bounded: |cov| <= 4e18, |y| <= 2.6e26, "
    "|rayleigh| <= 1.6e37 < 2^127).",
    tags=("mlprep", "embedding"),
)
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    d = _PCA_D

    def partials(batches):
        for pdf in batches:
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            assert emb.shape[1] == d, f"expected dim {d}, got {emb.shape[1]}"
            # per-element floor BEFORE the sum: the quantization is part
            # of the op's definition, mirrored in the oracle.  Chunked:
            # the rows x d x d outer-product tensor would be ~330 MB at
            # the default 10k-row Arrow batch — 512-row blocks bound the
            # peak at ~17 MB without changing the exact integer sums.
            a = np.zeros((d, d), dtype=np.int64)
            b = np.zeros(d, dtype=np.int64)
            for lo in range(0, emb.shape[0], 512):
                blk = emb[lo : lo + 512]
                a += np.floor(blk[:, :, None] * blk[:, None, :] * 1e12).astype(
                    np.int64
                ).sum(axis=0)
                b += np.floor(blk * 1e6).astype(np.int64).sum(axis=0)
            jj, kk = np.meshgrid(np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij")
            out = pd.DataFrame(
                {"j": jj.ravel(), "k": kk.ravel(), "val": a.ravel()}
            )
            brow = pd.DataFrame({"j": np.arange(1, d + 1), "k": -1, "val": b})
            nrow = pd.DataFrame({"j": [-1], "k": [-1], "val": [len(pdf)]})
            yield pd.concat([out, brow, nrow], ignore_index=True)

    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    grid = (
        e.mapInPandas(partials, schema="j int, k int, val long")
        .groupBy("j", "k")
        .agg(F.sum("val").alias("val"))
        .collect()  # bounded: d^2 + d + 1 rows, constant in data size
    )
    a = {}
    b = {}
    n = 0
    for r in grid:
        if r["j"] == -1:
            n = int(r["val"])
        elif r["k"] == -1:
            b[r["j"]] = int(r["val"])
        else:
            a[(r["j"], r["k"])] = int(r["val"])
    cov = {
        (j, k): a[(j, k)] * n - b[j] * b[k]
        for j in range(1, d + 1)
        for k in range(1, d + 1)
    }

    def tdiv(x: int, y: int) -> int:  # truncating division (SQL // on ints)
        q = abs(x) // abs(y)
        return q if (x >= 0) == (y >= 0) else -q

    v = [10**6] * d  # it0
    for _ in range(_PCA_K):
        y = [sum(cov[(j, k)] * v[k - 1] for k in range(1, d + 1)) for j in range(1, d + 1)]
        m = max(abs(t) for t in y)
        v = [tdiv(t * 10**6, m) for t in y]
    vtv = sum(t * t for t in v)
    lq = sum(
        v[j - 1] * cov[(j, k)] * v[k - 1]
        for j in range(1, d + 1)
        for k in range(1, d + 1)
    )
    tr = sum(cov[(j, j)] for j in range(1, d + 1))
    eig = float(lq) / float(vtv) / float(n * n) / 1e12
    ratio = float(lq) / float(vtv) / float(tr)
    rows = [
        (j, float(v[j - 1]) / 1e6, eig, ratio) for j in range(1, d + 1)
    ]
    return spark.createDataFrame(
        rows, schema="dim int, loading double, eigenvalue double, explained_ratio double"
    )


@register(
    "profile_corpus_report",
    oracle="""
WITH d AS (
  SELECT source, lang, n_chars,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
         md5(text) AS h
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
         CAST(count(*) - count(DISTINCT h) AS BIGINT) AS dup_docs
  FROM d GROUP BY source
), lang_counts AS (
  SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang
), lang_stats AS (
  SELECT source, CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM lang_counts GROUP BY source
), top_lang AS (
  SELECT source, lang
  FROM (SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang) AS rn
        FROM lang_counts)
  WHERE rn = 1
)
SELECT p.source, p.n_docs, p.total_chars,
       p.total_tokens * 1000 // p.n_docs AS tokens_per_doc_milli,
       CAST(1000000 - CAST(l.sum_sq AS HUGEINT) * 1000000
                      // (p.n_docs * p.n_docs) AS BIGINT)
           AS lang_gini_ppm,
       t.lang AS top_lang, p.dup_docs
FROM per_doc p JOIN lang_stats l USING (source)
     JOIN top_lang t USING (source)
""",
    doc="Per-source dataset card (the corpus report a training run ships "
    "with): document/char/token counts, exact-duplicate count (docs "
    "minus distinct md5), plurality language, and language concentration "
    "as Gini impurity in exact integer ppm — 1e6 - sum(c^2)*1e6 // n^2. "
    "Gini instead of entropy is deliberate: it is pure integer "
    "arithmetic, while entropy needs ln(), which is NOT IEEE "
    "correctly-rounded and can differ between engines by an ulp. "
    "Execution: one (source) partial-agg pass over doc-level facts plus "
    "one (source, lang) rollup re-aggregated to sum-of-squares — both "
    "map-side combinable; the distinct-hash count shuffles (source, h) "
    "once. At 100 TB every stat here is a mergeable per-shard state "
    "(counts, sums, hash sets via the dedup family) — the report "
    "composes from shard summaries without a second corpus pass.",
    tags=("profile", "llm"),
)
def profile_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.md5("text").alias("h"),
    )
    per_doc = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
        (F.count("*") - F.count_distinct("h")).cast("bigint").alias("dup_docs"),
    )
    lang_counts = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    lang_stats = lang_counts.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq")
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("lang"))
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_doc.join(lang_stats, "source")
        .join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.expr("div(total_tokens * 1000, n_docs)").alias(
                "tokens_per_doc_milli"
            ),
            # r8 overflow audit: sum_sq*1e6 crosses 2^63 past ~10M docs
            # per source — widen the product (128-bit both engines)
            F.expr(
                "CAST(1000000 - div(CAST(sum_sq AS DECIMAL(38,0)) * 1000000,"
                " n_docs * n_docs) AS BIGINT)"
            ).alias("lang_gini_ppm"),
            "top_lang",
            "dup_docs",
        )
    )


@register(
    "mlprep_target_encode",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderpriority AS cat,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS y_cents
  FROM orders
), g AS (
  SELECT cat, CAST(sum(y_cents) AS BIGINT) AS cat_sum,
         CAST(count(*) AS BIGINT) AS cat_n
  FROM t GROUP BY cat
)
SELECT t.o_orderkey, t.cat,
       CASE WHEN g.cat_n > 1
            THEN CAST(g.cat_sum - t.y_cents AS DOUBLE)
                 / CAST(g.cat_n - 1 AS DOUBLE) / 100.0
            END AS loo_mean,
       g.cat_n
FROM t JOIN g USING (cat)
""",
    doc="Leave-one-out target encoding (the leakage-safe categorical "
    "featurization): each order's o_orderpriority encodes as the mean "
    "target (total price) of all OTHER rows in its category — "
    "(cat_sum - y_i) / (cat_n - 1) — so a row never sees its own label "
    "(plain mean encoding leaks the target into the feature). The "
    "category sums accumulate as exact integer cents, so the one double "
    "division at the end is engine-identical; singleton categories "
    "yield NULL (no peers to average). Execution: one partial-agg "
    "shuffle builds the per-category state, which re-joins the facts — "
    "at 100 TB the state is |categories| rows and broadcasts, making "
    "the encode a map-only second pass.",
    tags=("mlprep",),
)
def mlprep_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("y_cents"),
    )
    g = t.groupBy("cat").agg(
        F.sum("y_cents").cast("bigint").alias("cat_sum"),
        F.count("*").cast("bigint").alias("cat_n"),
    )
    return t.join(F.broadcast(g), "cat").select(
        "o_orderkey",
        "cat",
        F.when(
            F.col("cat_n") > 1,
            (F.col("cat_sum") - F.col("y_cents")).cast("double")
            / (F.col("cat_n") - 1).cast("double")
            / F.lit(100.0),
        ).alias("loo_mean"),
        "cat_n",
    )


_PSI_BINS = 10     # fixed-width value bins: least(9, floor(value/50))
_PSI_WIDTH = 50.0  # value spans ~0..500 at every sf


@register(
    "profile_psi_drift",
    oracle=f"""
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) AS e FROM events
), span AS (
  SELECT (CAST(min(e) AS BIGINT) + CAST(max(e) AS BIGINT)) // 2 AS mid FROM ev
), binned AS (
  SELECT event_type,
         least({_PSI_BINS - 1}, CAST(floor(value / {_PSI_WIDTH}) AS BIGINT)) AS bin,
         CASE WHEN e < span.mid THEN 1 ELSE 0 END AS first_half
  FROM ev CROSS JOIN span
), grid AS (
  SELECT DISTINCT event_type FROM binned
), bins AS (
  SELECT g.event_type, b.bin
  FROM grid g CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) b
), counts AS (
  SELECT bins.event_type, bins.bin,
         CAST(coalesce(sum(CASE WHEN first_half = 1 THEN 1 END), 0) + 1 AS BIGINT) AS c1s,
         CAST(coalesce(sum(CASE WHEN first_half = 0 THEN 1 END), 0) + 1 AS BIGINT) AS c2s
  FROM bins LEFT JOIN binned
    ON binned.event_type = bins.event_type AND binned.bin = bins.bin
  GROUP BY 1, 2
), tots AS (
  SELECT event_type, CAST(sum(c1s) AS BIGINT) AS t1s, CAST(sum(c2s) AS BIGINT) AS t2s
  FROM counts GROUP BY 1
), contrib AS (
  SELECT c.event_type,
         CAST(floor(
           (CAST(c.c1s * t.t2s - c.c2s * t.t1s AS DOUBLE)
            / CAST(t.t1s * t.t2s AS DOUBLE))
           * ln(CAST(c.c1s * t.t2s AS DOUBLE) / CAST(c.c2s * t.t1s AS DOUBLE))
           * 1000000000) AS BIGINT) AS part_e9
  FROM counts c JOIN tots t USING (event_type)
)
SELECT c.event_type,
       t.t1s - {_PSI_BINS} AS n_first, t.t2s - {_PSI_BINS} AS n_second,
       CAST(sum(c.part_e9) AS BIGINT) AS psi_e9
FROM contrib c JOIN tots t USING (event_type)
GROUP BY 1, t.t1s, t.t2s
""",
    doc="Population-stability-index drift detection (the standard "
    "model-monitoring metric): events split into first/second time "
    "halves at the integer-micros midpoint of the observed span, "
    f"values histogrammed into {_PSI_BINS} fixed-width bins (width "
    f"{_PSI_WIDTH:.0f} — NO global sort-based deciles, so binning is "
    "embarrassingly parallel), PSI = sum_bins (p-q)*ln(p/q) with "
    "Laplace +1 smoothing per (event_type, bin) so empty bins are "
    "well-defined.  Both ln argument and (p-q) reduce to SINGLE "
    "correctly-rounded divisions of exact BIGINT cross-products, each "
    "bin's term floor-quantizes to 1e-9 units, and the per-type PSI is "
    "an order-independent BIGINT sum of 10 terms — hash-exact "
    "cross-engine.  Scale: one partial-agg pass builds the (type, bin, "
    "half) counts (the span midpoint is a 1-row broadcast); the dense "
    "type x bin grid and all scoring run on KB-sized aggregates.  "
    "PSI > 0.2 (psi_e9 > 2e8) is the conventional investigate "
    "threshold.",
    tags=("profile",),
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros(F.col("ts").cast("timestamp")).alias("e")
    )
    span = ev.agg(F.expr("div(min(e) + max(e), 2)").alias("mid"))
    binned = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(F.col("value") / F.lit(_PSI_WIDTH)).cast("long"),
        ).alias("bin"),
        F.when(F.col("e") < F.col("mid"), 1).otherwise(0).alias("first_half"),
    )
    grid = binned.select("event_type").distinct().crossJoin(
        spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    )
    raw = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("first_half") == 1, 1)).alias("c1"),
        F.sum(F.when(F.col("first_half") == 0, 1)).alias("c2"),
    )
    counts = (
        grid.join(raw, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            (F.coalesce(F.col("c1"), F.lit(0)) + 1).cast("long").alias("c1s"),
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("long").alias("c2s"),
        )
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("c1s").cast("long").alias("t1s"),
        F.sum("c2s").cast("long").alias("t2s"),
    )
    contrib = counts.join(F.broadcast(tots), "event_type").select(
        "event_type",
        "t1s",
        "t2s",
        F.floor(
            (
                (F.col("c1s") * F.col("t2s") - F.col("c2s") * F.col("t1s")).cast("double")
                / (F.col("t1s") * F.col("t2s")).cast("double")
            )
            * F.log(
                (F.col("c1s") * F.col("t2s")).cast("double")
                / (F.col("c2s") * F.col("t1s")).cast("double")
            )
            * F.lit(1000000000.0)
        )
        .cast("long")
        .alias("part_e9"),
    )
    return contrib.groupBy("event_type", "t1s", "t2s").agg(
        F.sum("part_e9").cast("bigint").alias("psi_e9")
    ).select(
        "event_type",
        (F.col("t1s") - _PSI_BINS).alias("n_first"),
        (F.col("t2s") - _PSI_BINS).alias("n_second"),
        "psi_e9",
    )


@register(
    "mlprep_calibration_bins",
    oracle="""
WITH scored AS (
  SELECT o_orderkey,
         CAST(CAST(concat('0x', substr(md5(concat('cal', CAST(o_orderkey AS VARCHAR))),
              1, 15)) AS UBIGINT) AS BIGINT) % 1000000 AS score_ppm,
         CAST(CAST(concat('0x', substr(md5(concat('lab', CAST(o_orderkey AS VARCHAR))),
              1, 15)) AS UBIGINT) AS BIGINT) % 1000000 AS noise_ppm
  FROM orders),
lab AS (
  SELECT score_ppm,
         CASE WHEN score_ppm * 3 + noise_ppm > 1500000 THEN 1 ELSE 0 END AS y,
         score_ppm // 100000 AS bin
  FROM scored)
SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS outcome_rate_ppm,
       CAST(abs(sum(score_ppm) // count(*) - sum(y) * 1000000 // count(*))
            AS BIGINT) AS abs_gap_ppm
FROM lab GROUP BY bin
""",
    doc="Model-calibration reliability bins (the ECE diagram's data): a "
    "deterministic scored population (md5-derived score in ppm, outcome "
    "label correlated with the score through a second independent hash "
    "— the same seeded-hash discipline as the samplers, so reruns and "
    "engines agree bit-for-bit) bucketed into 10 equal-width score "
    "bins; per bin the mean predicted score vs the realized outcome "
    "rate, both as truncating-division ppm, plus their absolute gap "
    "(the per-bin ECE term).  Equal-width binning means the bin id is "
    "a pure projection — ONE partial-agg shuffle of 10 groups total, "
    "no rank/ntile pass — which is the right calibration shape at "
    "100 TB (equal-frequency bins would need a distributed quantile "
    "pass first; that exists separately as agg_quantile_exact_global).",
    tags=("mlprep",),
)
def mlprep_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    key = F.col("o_orderkey").cast("string")

    def h(seed: str) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 15), 16, 10)
            .cast("long")
            % 1000000
        )

    scored = o.select(
        h("cal").alias("score_ppm"),
        h("lab").alias("noise_ppm"),
    ).select(
        "score_ppm",
        F.when(F.col("score_ppm") * 3 + F.col("noise_ppm") > 1500000, 1)
        .otherwise(0)
        .alias("y"),
        F.expr("div(score_ppm, 100000)").alias("bin"),
    )
    return (
        scored.groupBy(F.col("bin").cast("bigint").alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("div(sum(score_ppm), count(*))").alias("mean_score_ppm"),
            F.expr("div(sum(y) * 1000000, count(*))").alias("outcome_rate_ppm"),
        )
        .select(
            "bin",
            "n",
            "mean_score_ppm",
            "outcome_rate_ppm",
            F.abs(F.col("mean_score_ppm") - F.col("outcome_rate_ppm"))
            .cast("bigint")
            .alias("abs_gap_ppm"),
        )
    )


@register(
    "mlprep_group_kfold",
    oracle=f"""
WITH folds AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
         {_bucket_sql('o_custkey', 'kf')} % 5 AS fold
  FROM orders
)
SELECT CAST(fold AS BIGINT) AS fold,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(count(*) FILTER (o_orderstatus = 'F') * 1000000 // count(*)
         AS BIGINT) AS f_rate_ppm
FROM folds GROUP BY fold ORDER BY fold
""",
    doc="Leakage-safe group k-fold assignment: every ORDER lands in the "
    "fold of its CUSTOMER (fold = md5-bucket(custkey) % 5), so no "
    "customer's orders ever straddle a train/validation boundary — the "
    "group-split discipline that prevents entity leakage when rows of "
    "one entity are correlated (the classic k-fold-on-rows mistake).  "
    "Membership is derived from the key alone (md5-bucket, the "
    "sample_hash_deterministic trick): reproducible under reruns, "
    "storable nowhere, computable partition-locally on both the train "
    "and serving side.  Output per fold: group count, row count, exact "
    "label-ish balance diagnostics (total cents, status-F rate in ppm "
    "with floor division on both engines) — the balance check a split "
    "report needs.  Disjointness is structural (a function of the key "
    "cannot give one group two folds); tests/test_operators.py asserts "
    "it empirically against a row-level 5-fold split of the same data.  "
    "Scale: one narrow map for the fold column (no shuffle, pushes "
    "below joins) + one 5-group aggregate with map-side partials; "
    "count(DISTINCT custkey) per fold is the only wide stage and "
    "Spark's single-distinct rewrite handles it in two exchanges.",
    tags=("mlprep",),
)
def mlprep_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    folds = o.select(
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (_bucket("o_custkey", "kf") % 5).alias("fold"),
    )
    return (
        folds.groupBy(F.col("fold").cast("bigint").alias("fold"))
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_groups"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.expr(
                "div(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)"
                " * 1000000, count(*))"
            ).alias("f_rate_ppm"),
        )
        .orderBy("fold")
    )


@register(
    "etl_l_diversity_check",
    oracle="""
WITH j AS (
  SELECT CAST(c.c_nationkey AS VARCHAR) AS nat, c.c_mktsegment AS seg,
         o.o_orderpriority AS sens
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
)
SELECT nat, seg,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct,
       count(DISTINCT sens) >= 3 AS diverse,
       CAST(count(*) - count(*) FILTER (sens = (
         SELECT s FROM (SELECT sens AS s, count(*) AS c FROM j j2
                        WHERE j2.nat = j.nat AND j2.seg = j.seg
                        GROUP BY sens ORDER BY c DESC, s LIMIT 1)
       )) AS BIGINT) AS n_not_mode
FROM j GROUP BY nat, seg ORDER BY nat, seg
""",
    doc="Distinct l-diversity audit (Machanavajjhala et al.) — the "
    "privacy check AFTER k-anonymity: a quasi-identifier equivalence "
    "class that is large enough for k-anonymity can still leak if every "
    "member shares the same SENSITIVE value (the homogeneity attack).  "
    "Equivalence classes are the (nation, segment) quasi-identifier "
    "pairs of etl_k_anonymize's ladder; the sensitive attribute is the "
    "member orders' priority.  Per class: row count, the number of "
    "distinct sensitive values (l), the l >= 3 verdict, and the count "
    "of rows NOT carrying the class's plurality value (0 means the "
    "class is perfectly homogeneous — one disclosure reveals everyone; "
    "the deterministic plurality tie-break is (count DESC, value)).  "
    "Scale: one key-equi join (customer dim broadcasts), one class "
    "aggregate with Spark's single-distinct rewrite, and a plurality "
    "window over the O(classes x |sensitive|) reduced frame — fact "
    "volume reaches exactly one shuffle.",
    tags=("mlprep",),
)
def etl_l_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").cast("string").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("sens")
    )
    j = o.join(F.broadcast(c), "ck").select("nat", "seg", "sens")
    per_val = j.groupBy("nat", "seg", "sens").agg(F.count("*").alias("c"))
    w = Window.partitionBy("nat", "seg").orderBy(
        F.col("c").desc(), F.col("sens")
    )
    return (
        per_val.withColumn("rk", F.row_number().over(w))
        .groupBy("nat", "seg")
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("l_distinct"),
            (F.count("*") >= 3).alias("diverse"),
            (F.sum("c") - F.max(F.when(F.col("rk") == 1, F.col("c"))))
            .cast("bigint")
            .alias("n_not_mode"),
        )
        .orderBy("nat", "seg")
    )


@register(
    "mlprep_undersample_balanced",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderstatus AS cls,
         md5(concat('us', CAST(o_orderkey AS VARCHAR))) AS draw
  FROM orders
), r AS (
  SELECT *, row_number() OVER (PARTITION BY cls ORDER BY draw, o_orderkey) AS rn
  FROM t
), nmin AS (
  SELECT min(n) AS n_min FROM (SELECT count(*) AS n FROM t GROUP BY cls)
)
SELECT cls, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM r CROSS JOIN nmin WHERE rn <= n_min
GROUP BY cls
""",
    doc="Class-balanced deterministic undersampling — the imbalanced-"
    "label ML-prep staple: every class keeps exactly n_min = |smallest "
    "class| rows, selected by seeded-md5 rank so the sample is "
    "reproducible from the key alone (rerun-stable, no RNG state, same "
    "discipline as sample_hash_deterministic). Output is the per-class "
    "keep count plus an order-independent key checksum so the exact "
    "membership is value-hashed. Scale: the per-class rank does NOT "
    "use a |classes|-partition window (the 3-task parallelism trap) — "
    "it is the exact distributed rank over the (class, draw, key) "
    "total order (operators/rank.py: range-partition + offset "
    "prefix-sum) with per-class offsets subtracted from a 3-row "
    "broadcast; class counts and n_min come from one tiny aggregate "
    "(bounded collect, |classes| rows).",
    tags=("mlprep",),
)
def mlprep_undersample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank

    t = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("cls"),
        F.md5(F.concat(F.lit("us"), F.col("o_orderkey").cast("string"))).alias(
            "draw"
        ),
    )
    # bounded collect: one row per class (|classes| = 3 on this schema)
    counts = {r.cls: r.n for r in t.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    n_min = min(counts.values())
    offsets, acc = {}, 0
    for cls in sorted(counts):
        offsets[cls] = acc
        acc += counts[cls]
    off_map = F.create_map(*[F.lit(x) for co in offsets.items() for x in co])
    ranked = global_rank(
        t, [F.col("cls"), F.col("draw"), F.col("o_orderkey")], rank_col="_grk"
    )
    kept = ranked.withColumn(
        "_rn", F.col("_grk") - off_map[F.col("cls")]
    ).filter(F.col("_rn") <= n_min)
    return kept.groupBy("cls").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


@register(
    "mlprep_pit_training_set",
    oracle="""
WITH wk AS (
  SELECT user_id, date_trunc('week', ts) + INTERVAL 7 DAY AS eff_ts,
         CAST(count(*) AS BIGINT) AS n_w,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents_w
  FROM events GROUP BY 1, 2
), snaps AS (
  SELECT user_id, eff_ts,
         CAST(sum(n_w) OVER w AS BIGINT) AS feat_n_events,
         CAST(sum(cents_w) OVER w AS BIGINT) AS feat_cents
  FROM wk WINDOW w AS (PARTITION BY user_id ORDER BY eff_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), ex AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT ex.user_id, ex.event_id, date_trunc('day', ex.ts) AS day,
       coalesce(s.feat_n_events, 0) AS feat_n_events,
       coalesce(s.feat_cents, 0) AS feat_cents
FROM ex ASOF LEFT JOIN snaps s
  ON ex.user_id = s.user_id AND ex.ts >= s.eff_ts
""",
    doc="Point-in-time-correct training-set assembly — the feature-store "
    "correctness property (no label leakage): weekly per-user feature "
    "snapshots (cumulative event count and exact spend cents) become "
    "EFFECTIVE at the start of the NEXT week, and every training "
    "example (a purchase event) joins the latest snapshot effective "
    "at-or-before its own timestamp via the engine's as-of composition "
    "(operators/asof.py: union + one (user, ts) window — one shuffle, "
    "no nested loop), so a week-k purchase can only see weeks < k. "
    "First-week purchases get explicit zero features through the LEFT "
    "as-of. Oracle: DuckDB's NATIVE ASOF LEFT JOIN over the same "
    "snapshot CTE — the engine's composition is checked against an "
    "independent built-in as-of implementation, tie semantics "
    "included. Scale: snapshot build is one user-week partial agg + "
    "per-user running sum; the as-of union shuffles once on user; "
    "at 100 TB both stages key on user_id and AQE handles power users.",
    tags=("mlprep", "joins"),
)
def mlprep_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events
    from cobradb_spark.operators.asof import asof_join_backward

    e = load_events(spark, sf_dir)
    wk = e.groupBy(
        "user_id",
        F.expr("date_trunc('week', ts) + INTERVAL 7 DAY").alias("eff_ts"),
    ).agg(
        F.count("*").cast("bigint").alias("n_w"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents_w"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("eff_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    snaps = wk.select(
        "user_id",
        F.col("eff_ts").alias("ts"),
        F.sum("n_w").over(w).cast("bigint").alias("feat_n_events"),
        F.sum("cents_w").over(w).cast("bigint").alias("feat_cents"),
    )
    ex = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = asof_join_backward(
        ex, snaps, on="ts", by="user_id",
        right_value_cols=["feat_n_events", "feat_cents"],
    )
    return joined.select(
        "user_id",
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.coalesce("feat_n_events", F.lit(0)).cast("bigint").alias("feat_n_events"),
        F.coalesce("feat_cents", F.lit(0)).cast("bigint").alias("feat_cents"),
    )


@register(
    "mlprep_time_split_embargo",
    oracle="""
WITH b AS (
  SELECT o_orderkey, o_orderdate,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'train'
              WHEN o_orderdate >= TIMESTAMP '1998-03-01' THEN 'test'
              ELSE 'embargo' END AS split
  FROM orders
)
SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM b GROUP BY split
""",
    doc="Temporal train/test split with an embargo gap (the "
    "leakage-safe alternative to random splits for time-series ML: "
    "train strictly before the cut, test strictly after cut + embargo, "
    "the two-month embargo absorbing label look-ahead windows so no "
    "training label period overlaps the test features — the "
    "de Prado purged-split idea at dataset grain). Deterministic from "
    "the timestamp alone (rerun-stable, no RNG); emits per-split row "
    "counts, date bounds, and an order-independent key checksum so "
    "membership is value-hashed. Scale: one narrow map + a 3-group "
    "rollup — membership never shuffles.",
    tags=("mlprep",),
)
def mlprep_time_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    train_end = F.lit("1998-01-01").cast("timestamp")
    test_start = F.lit("1998-03-01").cast("timestamp")
    b = o.select(
        "o_orderkey",
        "o_orderdate",
        F.when(F.col("o_orderdate") < train_end, "train")
        .when(F.col("o_orderdate") >= test_start, "test")
        .otherwise("embargo")
        .alias("split"),
    )
    return b.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


@register(
    "mlprep_lorenz_deciles",
    oracle="""
WITH pc AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), r AS (
  SELECT cents,
         ntile(10) OVER (ORDER BY cents, cust) AS decile
  FROM pc
), d AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM r GROUP BY decile
), t AS (
  SELECT CAST(sum(cents) AS BIGINT) AS total FROM d
)
SELECT d.decile, d.n_customers, d.cents,
       CAST(CAST(sum(d.cents) OVER (ORDER BY d.decile) AS HUGEINT)
            * 1000000 // t.total AS BIGINT) AS cum_share_ppm
FROM d CROSS JOIN t
""",
    doc="Lorenz curve by spend decile — the distribution companion to "
    "agg_gini_spend (which compresses concentration to one number; "
    "this shows WHERE it lives: 'the top decile holds 40% of "
    "revenue'): customers sort into spend deciles via the exact "
    "distributed ntile (operators/rank.py closed form over the "
    "range-partitioned rank, never a single-partition window), each "
    "decile's exact cent total feeds the cumulative-share curve in "
    "truncated ppm. Scale: one custkey rollup, one range-exchange "
    "for the rank, a 10-row grid for the running share.",
    tags=("mlprep", "aggregates"),
)
def mlprep_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank_with_total, ntile_expr

    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("bigint")
        .alias("cents")
    )
    ranked, n = global_rank_with_total(pc, [F.col("cents"), F.col("cust")], "rk")
    d = (
        ranked.withColumn("decile", ntile_expr(F.col("rk"), n, 10))
        .groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    t = d.agg(F.sum("cents").cast("bigint").alias("total"))
    w = Window.orderBy("decile")
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn("cum", F.sum("cents").over(w))
        .select(
            "decile",
            "n_customers",
            "cents",
            F.expr(
                "CAST(div(CAST(cum AS DECIMAL(38,0)) * 1000000, total) AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


@register(
    "mlprep_nzv_filter",
    oracle="""
WITH f AS (
  SELECT 'o_orderpriority' AS feature, o_orderpriority AS v FROM orders
  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL SELECT 'order_year', CAST(year(o_orderdate) AS VARCHAR) FROM orders
), vc AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS n
  FROM f GROUP BY feature, v
), ranked AS (
  SELECT feature, n,
         row_number() OVER (PARTITION BY feature ORDER BY n DESC, v) AS rk
  FROM vc
), s AS (
  SELECT feature, CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_unique
  FROM vc GROUP BY feature
)
SELECT s.feature, s.n_rows, s.n_unique,
       t1.n AS top1, coalesce(t2.n, 0) AS top2,
       (CAST(t1.n AS HUGEINT) > 19 * coalesce(t2.n, 0)
        AND s.n_unique * 100 <= s.n_rows * 10) AS near_zero_variance
FROM s
JOIN (SELECT feature, n FROM ranked WHERE rk = 1) t1 USING (feature)
LEFT JOIN (SELECT feature, n FROM ranked WHERE rk = 2) t2 USING (feature)
""",
    doc="Near-zero-variance feature audit (the caret/sklearn "
    "preprocessing gate: a feature whose most common value dominates "
    "its second (freq ratio > 19) AND whose unique-value share is "
    "under 10% carries almost no signal and destabilizes CV folds): "
    "per categorical feature, row count, distinct count, top-two value "
    "frequencies, and the pure-integer cross-multiplied verdict. "
    "Scale: one (feature, value) rollup over a 3-feature unpivot (the "
    "Expand shape — no per-feature rescans), then a per-feature "
    "summary; the top-2 extraction is a WindowGroupLimit over the "
    "tiny collapsed value table.",
    tags=("mlprep",),
)
def mlprep_nzv_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f = None
    for name, col in (
        ("o_orderpriority", F.col("o_orderpriority")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("order_year", F.year("o_orderdate").cast("string")),
    ):
        part = o.select(F.lit(name).alias("feature"), col.alias("v"))
        f = part if f is None else f.unionByName(part)
    vc = f.groupBy("feature", "v").agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("feature").orderBy(F.col("n").desc(), "v")
    ranked = vc.withColumn("rk", F.row_number().over(w))
    s = vc.groupBy("feature").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_unique"),
    )
    top1 = ranked.filter(F.col("rk") == 1).select(
        "feature", F.col("n").alias("top1")
    )
    top2 = ranked.filter(F.col("rk") == 2).select(
        "feature", F.col("n").alias("top2")
    )
    j = (
        s.join(top1, "feature")
        .join(top2, "feature", "left")
        .withColumn("top2", F.coalesce("top2", F.lit(0)).cast("bigint"))
    )
    return j.select(
        "feature",
        "n_rows",
        "n_unique",
        "top1",
        "top2",
        (
            (F.col("top1").cast("decimal(38,0)") > 19 * F.col("top2"))
            & (F.col("n_unique") * 100 <= F.col("n_rows") * 10)
        ).alias("near_zero_variance"),
    )


@register(
    "mlprep_roc_auc",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), g AS (
  SELECT prio, cents, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS npos
  FROM s GROUP BY prio, cents
), r AS (
  SELECT prio, cents, n, npos,
         CAST(coalesce(sum(n) OVER (PARTITION BY prio ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS rank_before
  FROM g
), m AS (
  SELECT prio,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(npos) AS BIGINT) AS n_pos,
         sum(CAST(npos AS HUGEINT) * (2 * rank_before + n + 1)) AS r2_pos
  FROM r GROUP BY prio
)
SELECT prio, n_rows, n_pos, CAST(n_rows - n_pos AS BIGINT) AS n_neg,
       CAST((r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
            // (CAST(2 AS HUGEINT) * n_pos * (n_rows - n_pos)) AS BIGINT)
         AS auc_ppm
FROM m
""",
    doc="Exact ROC-AUC per segment via the Mann-Whitney rank-sum "
    "identity AUC = (sum of positive-class average ranks - "
    "n_pos(n_pos+1)/2) / (n_pos*n_neg), tie-corrected by the "
    "average-rank (midrank) method — ties contribute exactly 1/2, the "
    "textbook probabilistic AUC.  Scoring o_totalprice cents against "
    "the o_orderstatus='F' label per o_orderpriority segment (the "
    "operator contract is the metric, not the model).  Exactness: "
    "midranks double to integers (the Hampel half-unit trick), so the "
    "whole statistic is one 128-bit integer expression — "
    "(sum(npos*(2*rank_before + n + 1)) - n_pos*(n_pos+1)) * 1e6 // "
    "(2*n_pos*n_neg) — truncating division, no float anywhere.  Scale "
    "posture: the score collapses to the (segment, cents) grid first "
    "(one map-side-combinable shuffle over facts).  The rank sum is "
    "linear in rank_before, so r2_pos = 2*dot + sum(npos*(n+1)) with "
    "dot = sum(npos * rank_before) from operators/rank.py prefix_dot: "
    "an in-bucket window per (segment, cents >> 16) plus a per-segment "
    "offset window over the bucket table, one plan with no driver "
    "action while the frame is built — never a per-segment window over "
    "the price grid.  The final AUC is a 5-row rollup.  At 100 TB only "
    "the grid rollup touches facts — the agg_weighted_median_exact "
    "posture.",
    tags=("mlprep",),
)
def mlprep_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_dot

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("prio", "cents").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    # widen BEFORE the product (oracle does CAST(npos AS HUGEINT)):
    # npos * (n+1) can cross 2^63 on a dense tie cell at the 100 TB
    # posture — 64-bit-then-cast would overflow first
    g = g.withColumn(
        "npos_n1", F.col("npos").cast("decimal(38,0)") * (F.col("n") + 1)
    )
    # sum(npos * (2*rank_before + n + 1)) = 2*dot + sum(npos*(n+1)),
    # rank_before = the segment's exclusive prefix of n in cents order
    m = prefix_dot(
        g, ["prio"], ["cents"], c="n", w="npos", sums=("n", "npos", "npos_n1")
    ).select(
        "prio",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("npos").cast("bigint").alias("n_pos"),
        (2 * F.col("dot") + F.col("npos_n1")).alias("r2_pos"),
    )
    return m.select(
        "prio",
        "n_rows",
        "n_pos",
        (F.col("n_rows") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.expr(
            "CAST(div((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))"
            " * 1000000,"
            " CAST(2 AS DECIMAL(38,0)) * n_pos * (n_rows - n_pos)) AS BIGINT)"
        ).alias("auc_ppm"),
    )


@register(
    "mlprep_ks_statistic",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), g AS (
  SELECT prio, cents, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS npos
  FROM s GROUP BY prio, cents
), c AS (
  SELECT prio, cents,
         CAST(sum(npos) OVER w AS BIGINT) AS cum_pos,
         CAST(sum(n - npos) OVER w AS BIGINT) AS cum_neg,
         CAST(sum(npos) OVER (PARTITION BY prio) AS BIGINT) AS n_pos,
         CAST(sum(n - npos) OVER (PARTITION BY prio) AS BIGINT) AS n_neg
  FROM g
  WINDOW w AS (PARTITION BY prio ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), d AS (
  SELECT prio, cents, n_pos, n_neg,
         CAST(abs(CAST(cum_pos AS HUGEINT) * n_neg
                  - CAST(cum_neg AS HUGEINT) * n_pos) * 1000000
              // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS d_ppm
  FROM c
), rk AS (
  SELECT prio, cents, n_pos, n_neg, d_ppm,
         row_number() OVER (PARTITION BY prio
                            ORDER BY d_ppm DESC, cents) AS rn
  FROM d
)
SELECT prio, n_pos, n_neg, d_ppm AS ks_ppm, cents AS ks_at_cents
FROM rk WHERE rn = 1
""",
    doc="Two-sample Kolmogorov-Smirnov statistic per segment: the "
    "maximum gap between the positive- and negative-class score CDFs "
    "(o_totalprice cents vs the o_orderstatus='F' label per "
    "o_orderpriority) — the standard separation readout next to AUC "
    "(mlprep_roc_auc), and the drift test run between a training and a "
    "serving score distribution.  Exactness: the CDF gap at each grid "
    "point is the 128-bit cross-multiplication "
    "|cum_pos*n_neg - cum_neg*n_pos|*1e6 // (n_pos*n_neg) — no "
    "division per class, no float; the argmax score reports the "
    "decision threshold (first by score on ties — deterministic "
    "(d DESC, cents) rank).  Scale posture: one (segment, cents) grid "
    "rollup over facts, then per-segment cumulative counts and totals "
    "from operators/rank.py prefix_sums (one range partition over the "
    "grid), 5-row result.",
    tags=("mlprep",),
)
def mlprep_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("prio", "cents").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    # per-segment cumulative counts and totals over the cents order:
    # the mlprep_roc_auc / agg_weighted_median_exact posture, never a
    # per-segment running window over the price grid
    cum_pos = F.col("npos_before") + F.col("npos")
    c = prefix_sums(g, ["prio"], ["cents"], ["n", "npos"]).select(
        "prio",
        "cents",
        cum_pos.alias("cum_pos"),
        (F.col("n_before") + F.col("n") - cum_pos).alias("cum_neg"),
        F.col("npos_total").alias("n_pos"),
        (F.col("n_total") - F.col("npos_total")).alias("n_neg"),
    )
    d = c.select(
        "prio",
        "cents",
        "n_pos",
        "n_neg",
        F.expr(
            "CAST(div(abs(CAST(cum_pos AS DECIMAL(38,0)) * n_neg"
            " - CAST(cum_neg AS DECIMAL(38,0)) * n_pos) * 1000000,"
            " CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
        ).alias("d_ppm"),
    )
    rk = d.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("prio").orderBy(F.col("d_ppm").desc(), "cents")
        ),
    )
    return rk.filter(F.col("rn") == 1).select(
        "prio",
        "n_pos",
        "n_neg",
        F.col("d_ppm").alias("ks_ppm"),
        F.col("cents").alias("ks_at_cents"),
    )


@register(
    "etl_t_closeness_check",
    oracle="""
WITH j AS (
  SELECT CAST(c.c_nationkey AS VARCHAR) AS nat, c.c_mktsegment AS seg,
         o.o_orderpriority AS sens
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
), cls AS (
  SELECT nat, seg, sens, CAST(count(*) AS BIGINT) AS c
  FROM j GROUP BY nat, seg, sens
), n_cls AS (
  SELECT nat, seg, CAST(sum(c) AS BIGINT) AS n FROM cls GROUP BY nat, seg
), gdist AS (
  SELECT sens, CAST(sum(c) AS BIGINT) AS g FROM cls GROUP BY sens
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS big_n FROM cls
), terms AS (
  SELECT nc.nat, nc.seg, nc.n, t.big_n,
         abs(CAST(coalesce(cl.c, 0) AS HUGEINT) * t.big_n
             - CAST(gl.g AS HUGEINT) * nc.n) AS term
  FROM n_cls nc
  CROSS JOIN gdist gl
  CROSS JOIN tot t
  LEFT JOIN cls cl ON cl.nat = nc.nat AND cl.seg = nc.seg
                   AND cl.sens = gl.sens
)
SELECT nat, seg, n AS n_rows,
       CAST(sum(term) * 1000000
            // (CAST(2 AS HUGEINT) * n * big_n) AS BIGINT) AS tvd_ppm,
       CAST(sum(term) * 1000000
            // (CAST(2 AS HUGEINT) * n * big_n) AS BIGINT) > 150000
         AS t_violation
FROM terms GROUP BY nat, seg, n, big_n ORDER BY nat, seg
""",
    doc="t-closeness audit (Li, Li & Venkatasubramanian 2007) — the "
    "third rung of the privacy ladder after etl_k_anonymize and "
    "etl_l_diversity_check, over the SAME (nation, segment) "
    "quasi-identifier classes and order-priority sensitive attribute: "
    "a class can be large (k-anonymous) and varied (l-diverse) and "
    "still leak if its sensitive DISTRIBUTION deviates from the "
    "table-wide one (the skewness attack).  Distance is the exact "
    "total variation distance — the categorical-attribute instance of "
    "the paper's EMD — as the 128-bit cross-multiplication "
    "sum_s |c_s*N - g_s*n| * 1e6 // (2*n*N): no per-class division, "
    "no float; classes with tvd_ppm > 150000 (t = 0.15, the paper's "
    "working example) are flagged.  Scale posture: one broadcast dim "
    "join + one (class, sens) rollup over facts; the distance math "
    "runs on the O(classes x |sensitive|) reduced frame against a "
    "broadcast 5-row global distribution and a 1-row total.",
    tags=("mlprep",),
)
def etl_t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").cast("string").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("sens")
    )
    j = o.join(F.broadcast(c), "ck").select("nat", "seg", "sens")
    cls = j.groupBy("nat", "seg", "sens").agg(F.count("*").cast("bigint").alias("c"))
    n_cls = cls.groupBy("nat", "seg").agg(F.sum("c").cast("bigint").alias("n"))
    glob = cls.groupBy("sens").agg(F.sum("c").cast("bigint").alias("g"))
    tot = cls.agg(F.sum("c").cast("bigint").alias("big_n"))
    terms = (
        n_cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        # classes x |sensitive| is dimension-bounded (quasi-id cardinality,
        # 125 x 5 here) — broadcast, or AQE leaves a SortMergeJoin
        .join(F.broadcast(cls), ["nat", "seg", "sens"], "left")
        .select(
            "nat",
            "seg",
            "n",
            "big_n",
            F.abs(
                F.coalesce("c", F.lit(0)).cast("decimal(19,0)") * F.col("big_n")
                - F.col("g").cast("decimal(19,0)") * F.col("n")
            ).alias("term"),
        )
    )
    tvd = F.expr(
        "CAST(div(sum(term) * 1000000,"
        " CAST(2 AS DECIMAL(38,0)) * n * big_n) AS BIGINT)"
    )
    return (
        terms.groupBy("nat", "seg", "n", "big_n")
        .agg(
            tvd.alias("tvd_ppm"),
        )
        .select(
            "nat",
            "seg",
            F.col("n").alias("n_rows"),
            "tvd_ppm",
            (F.col("tvd_ppm") > 150000).alias("t_violation"),
        )
        .orderBy("nat", "seg")
    )


@register(
    "mlprep_information_value",
    oracle="""
WITH b AS (
  SELECT o_orderpriority AS bin,
         CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT) AS n_neg
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS pos_tot,
         CAST(sum(n_neg) AS BIGINT) AS neg_tot
  FROM b
), woe AS (
  SELECT bin, n_pos, n_neg, pos_tot, neg_tot,
         CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           CAST(floor(ln((CAST(n_pos AS DOUBLE) * CAST(neg_tot AS DOUBLE))
                         / (CAST(n_neg AS DOUBLE) * CAST(pos_tot AS DOUBLE)))
                      * 1000000)
                AS BIGINT)
         END AS woe_micro
  FROM b CROSS JOIN t
)
SELECT bin, n_pos, n_neg, woe_micro,
       CASE WHEN woe_micro IS NOT NULL THEN
         CAST((CAST(n_pos AS HUGEINT) * neg_tot
               - CAST(n_neg AS HUGEINT) * pos_tot)
              * woe_micro * 1000
              // (CAST(pos_tot AS HUGEINT) * neg_tot) AS BIGINT)
       END AS iv_contrib_nano
FROM woe
""",
    doc="Weight of Evidence and Information Value per feature bin (the "
    "credit-scoring feature screen; Siddiqi's scorecard formulation): "
    "WoE_bin = ln(p(bin|pos)/p(bin|neg)) and IV = sum over bins of "
    "(p(bin|pos) - p(bin|neg)) * WoE — here for the o_orderpriority "
    "feature against the o_orderstatus='F' label; summing "
    "iv_contrib_nano gives the feature's IV (>= 0.3 'strong' on "
    "Siddiqi's ladder).  Exactness: the ln argument is ONE exact "
    "integer rational (n_pos*neg_tot)/(n_neg*pos_tot) through a single "
    "correctly-rounded double division (the PMI discipline), floored "
    "to micro units; the IV contribution then cross-multiplies "
    "128-bit — (n_pos*neg_tot - n_neg*pos_tot)*woe*1000 // "
    "(pos_tot*neg_tot) — so every output is a deterministic integer; "
    "empty half-bins yield NULL (the classic undefined-WoE case) "
    "rather than a smoothing constant.  Scale posture: one map-side- "
    "combinable (bin) rollup over facts; the scoring runs on the "
    "|bins|-row frame against a broadcast 1-row total.",
    tags=("mlprep",),
)
def mlprep_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.groupBy(F.col("o_orderpriority").alias("bin")).agg(
        F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("n_pos"),
        F.count_if(F.col("o_orderstatus") != "F").cast("bigint").alias("n_neg"),
    )
    t = b.agg(
        F.sum("n_pos").cast("bigint").alias("pos_tot"),
        F.sum("n_neg").cast("bigint").alias("neg_tot"),
    )
    woe = b.crossJoin(F.broadcast(t)).withColumn(
        "woe_micro",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            # cast-then-multiply (the PMI tree): n_pos*neg_tot in BIGINT
            # crosses 2^63 at orders ~1.5e11 rows — identical double
            # trees both engines keep ln's input bit-identical
            F.floor(
                F.log(
                    (F.col("n_pos").cast("double") * F.col("neg_tot").cast("double"))
                    / (F.col("n_neg").cast("double") * F.col("pos_tot").cast("double"))
                )
                * 1000000
            ).cast("bigint"),
        ),
    )
    return woe.select(
        "bin",
        "n_pos",
        "n_neg",
        "woe_micro",
        F.when(
            F.col("woe_micro").isNotNull(),
            F.expr(
                "CAST(div((CAST(n_pos AS DECIMAL(38,0)) * neg_tot"
                " - CAST(n_neg AS DECIMAL(38,0)) * pos_tot)"
                " * woe_micro * 1000,"
                " CAST(pos_tot AS DECIMAL(38,0)) * neg_tot) AS BIGINT)"
            ),
        ).alias("iv_contrib_nano"),
    )


@register(
    "mlprep_cramers_v",
    oracle="""
WITH j AS (
  SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), cell AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS obs FROM j GROUP BY a, b
), ra AS (
  SELECT a, CAST(sum(obs) AS BIGINT) AS row_n FROM cell GROUP BY a
), cb AS (
  SELECT b, CAST(sum(obs) AS BIGINT) AS col_n FROM cell GROUP BY b
), n AS (
  SELECT CAST(sum(obs) AS BIGINT) AS big_n,
         CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
         CAST(count(DISTINCT b) AS BIGINT) AS c_levels
  FROM cell
), chi AS (
  SELECT n.big_n, n.r_levels, n.c_levels,
         CAST(sum(CAST(floor(
           CAST(CAST(cell.obs AS HUGEINT) * n.big_n
                - CAST(ra.row_n AS HUGEINT) * cb.col_n AS DOUBLE)
           * CAST(CAST(cell.obs AS HUGEINT) * n.big_n
                  - CAST(ra.row_n AS HUGEINT) * cb.col_n AS DOUBLE)
           * 1000000.0
           / (((CAST(n.big_n AS DOUBLE) * CAST(ra.row_n AS DOUBLE))
               * CAST(cb.col_n AS DOUBLE)) * CAST(n.big_n AS DOUBLE))
         ) AS BIGINT)) AS BIGINT) AS chi2_ppm
  FROM cell JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN n
  GROUP BY n.big_n, n.r_levels, n.c_levels
)
SELECT big_n AS n_rows, r_levels, c_levels, chi2_ppm,
       CAST(floor(sqrt(CAST(chi2_ppm AS DOUBLE) / 1000000.0
                       / CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)
                       / CAST(big_n AS DOUBLE)) * 1000000) AS BIGINT)
         AS cramers_v_micro
FROM chi
""",
    doc="Cramer's V association between two categorical columns "
    "(market segment x order priority) — the screening statistic for "
    "'are these features redundant / is this split confounded': "
    "chi-square over the contingency table normalized to [0,1] by "
    "n*min(r-1, c-1).  Exactness: d = obs*N - row*col is exact "
    "128-bit (the expected count is never materialized), then each "
    "cell's term floor(d^2*1e6/(N^2*row*col)) is one "
    "correctly-rounded double chain with pinned associativity — "
    "identical trees both engines (d^2*1e6 can reach ~5e38 at sf100, "
    "past both DECIMAL(38) and HUGEINT, so the repo's IEEE discipline "
    "is the right tool, not wider integers); per-cell floors sum "
    "order-free, and V is one sqrt over those exact integers.  "
    "Scale posture: one broadcast "
    "dim join + one (a, b) cell rollup over facts; margins and the "
    "statistic run on the r x c = 25-row frame.",
    tags=("mlprep",),
)
def mlprep_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("a")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("b")
    )
    cell = (
        o.join(F.broadcast(c), "ck")
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    ra = cell.groupBy("a").agg(F.sum("obs").cast("bigint").alias("row_n"))
    cb = cell.groupBy("b").agg(F.sum("obs").cast("bigint").alias("col_n"))
    n = cell.agg(
        F.sum("obs").cast("bigint").alias("big_n"),
        F.count_distinct("a").cast("bigint").alias("r_levels"),
        F.count_distinct("b").cast("bigint").alias("c_levels"),
    )
    # d^2 * 1e6 can reach ~5e38 at sf100 — past BOTH DECIMAL(38,0) and
    # HUGEINT — so the per-cell term uses the repo's IEEE discipline
    # instead: exact 128-bit d cast once to double, one multiply chain
    # with pinned associativity, one divide, one floor — identical
    # trees both engines, then an order-free integer sum.
    d = (
        F.col("obs").cast("decimal(19,0)") * F.col("big_n")
        - F.col("row_n").cast("decimal(19,0)") * F.col("col_n")
    )
    chi = (
        cell.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(n))
        .withColumn("_d", d.cast("double"))
        .withColumn(
            "_term",
            F.floor(
                F.col("_d")
                * F.col("_d")
                * F.lit(1000000.0)
                / (
                    (
                        F.col("big_n").cast("double")
                        * F.col("row_n").cast("double")
                    )
                    * F.col("col_n").cast("double")
                    * F.col("big_n").cast("double")
                )
            ).cast("bigint"),
        )
        .groupBy("big_n", "r_levels", "c_levels")
        .agg(F.sum("_term").cast("bigint").alias("chi2_ppm"))
    )
    return chi.select(
        F.col("big_n").alias("n_rows"),
        "r_levels",
        "c_levels",
        "chi2_ppm",
        F.floor(
            F.sqrt(
                F.col("chi2_ppm").cast("double")
                / F.lit(1000000.0)
                / F.least(F.col("r_levels") - 1, F.col("c_levels") - 1).cast(
                    "double"
                )
                / F.col("big_n").cast("double")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("cramers_v_micro"),
    )


@register(
    "mlprep_average_precision",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), g AS (
  SELECT prio, cents, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS npos
  FROM s GROUP BY prio, cents
), c AS (
  SELECT prio, cents, n, npos,
         CAST(sum(n) OVER w AS BIGINT) AS cum_n,
         CAST(sum(npos) OVER w AS BIGINT) AS cum_pos,
         CAST(sum(npos) OVER (PARTITION BY prio) AS BIGINT) AS n_pos,
         CAST(sum(n) OVER (PARTITION BY prio) AS BIGINT) AS n_all
  FROM g
  WINDOW w AS (PARTITION BY prio ORDER BY cents DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT prio, n_pos, CAST(n_all - n_pos AS BIGINT) AS n_neg,
       CAST(n_pos * 1000000 // n_all AS BIGINT) AS prevalence_ppm,
       CAST(sum(npos * (cum_pos * 1000000 // cum_n)) // n_pos AS BIGINT)
         AS ap_ppm
FROM c GROUP BY prio, n_pos, n_all
""",
    doc="Average precision (area under the precision-recall curve, step "
    "interpolation) per segment — the ranking metric that, unlike "
    "ROC-AUC (mlprep_roc_auc, same grid), is prevalence-sensitive and "
    "the standard readout for imbalanced retrieval.  Tied scores "
    "collapse to grid cells; each cell contributes its positive count "
    "times the precision at the cell's END in score-descending order "
    "(the whole tie block lands at one rank — deterministic, no "
    "within-tie order to disagree on).  Exactness: per-cell precision "
    "quantizes to floor-ppm (declared), contributions are pure BIGINT "
    "products, and AP = sum // n_pos — no float anywhere; prevalence "
    "rides along as the no-skill baseline.  Scale posture: the "
    "mlprep_roc_auc/ks grid pattern — one map-side-combinable "
    "(segment, cents) rollup over facts, descending cumulative counts "
    "derived from the DISTRIBUTED ascending prefix sums (cum_desc = "
    "total - cum_asc_exclusive; no per-segment window over the price "
    "grid), 5-row result.",
    tags=("mlprep",),
)
def mlprep_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("prio", "cents").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("npos"),
    )
    # descending-inclusive cumulative = segment total - ascending
    # EXCLUSIVE prefix (rows with a strictly smaller score drop out)
    c = prefix_sums(g, ["prio"], ["cents"], ["n", "npos"]).select(
        "prio",
        "npos",
        (F.col("n_total") - F.col("n_before")).alias("cum_n"),
        (F.col("npos_total") - F.col("npos_before")).alias("cum_pos"),
        F.col("npos_total").alias("n_pos"),
        F.col("n_total").alias("n_all"),
    )
    return (
        c.groupBy("prio", "n_pos", "n_all")
        .agg(
            F.sum(
                F.col("npos") * F.expr("div(cum_pos * 1000000, cum_n)")
            ).alias("_apsum")
        )
        .select(
            "prio",
            "n_pos",
            (F.col("n_all") - F.col("n_pos")).cast("bigint").alias("n_neg"),
            F.expr("CAST(div(n_pos * 1000000, n_all) AS BIGINT)").alias(
                "prevalence_ppm"
            ),
            F.expr("CAST(div(_apsum, n_pos) AS BIGINT)").alias("ap_ppm"),
        )
    )


@register(
    "mlprep_isotonic_calibration",
    oracle="""
WITH scored AS (
  SELECT o_orderkey,
         CAST(CAST(concat('0x', substr(md5(concat('cal', CAST(o_orderkey AS VARCHAR))),
              1, 15)) AS UBIGINT) AS BIGINT) % 1000000 AS score_ppm,
         CAST(CAST(concat('0x', substr(md5(concat('lab', CAST(o_orderkey AS VARCHAR))),
              1, 15)) AS UBIGINT) AS BIGINT) % 1000000 AS noise_ppm
  FROM orders),
lab AS (
  SELECT score_ppm // 100000 AS bin,
         CASE WHEN score_ppm * 3 + noise_ppm > 1500000 THEN 1 ELSE 0 END AS y
  FROM scored),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM lab GROUP BY bin),
seg AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(sum(m.pos) * 1000000 // sum(m.n) AS BIGINT) AS mean_ppm
  FROM g j JOIN g k ON j.bin <= k.bin
  JOIN g m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin),
mins AS (
  SELECT i.bin AS bin, s.jb, min(s.mean_ppm) AS mn
  FROM g i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
  GROUP BY i.bin, s.jb),
fit AS (SELECT bin, CAST(max(mn) AS BIGINT) AS fitted_ppm FROM mins GROUP BY bin)
SELECT g.bin, g.n, g.pos,
       CAST(g.pos * 1000000 // g.n AS BIGINT) AS raw_rate_ppm,
       f.fitted_ppm
FROM g JOIN fit f USING (bin)
""",
    doc="Isotonic (PAV) probability calibration over the reliability "
    "grid — what sklearn's IsotonicRegression fits after "
    "mlprep_calibration_bins diagnoses miscalibration.  Same "
    "deterministic scored population (seeded md5 score + correlated "
    "label, 10 equal-width bins); the isotonic fit uses the MINIMAX "
    "closed form of pool-adjacent-violators, fitted(i) = max_{j<=i} "
    "min_{k>=i} mean(y over bins j..k) (Ayer et al. 1955; equivalent "
    "to the sequential PAV pooling but expressible as pure joins — no "
    "while-loop, no driver iteration), with every interval mean pinned "
    "as a truncating-division ppm integer so both engines agree "
    "bit-for-bit.  Scale posture: ONE partial-agg fact pass reduces to "
    "the 10-row bin grid; the O(bins^3) minimax algebra runs on that "
    "constant-size grid (bins fixed by construction, independent of "
    "row count), so at 100 TB the plan is one shuffle plus KB-sized "
    "joins.",
    tags=("mlprep",),
)
def mlprep_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_iso_v")
    return spark.sql("""
WITH scored AS (
  SELECT o_orderkey,
         CAST(conv(substring(md5(concat('cal', CAST(o_orderkey AS STRING))),
              1, 15), 16, 10) AS BIGINT) % 1000000 AS score_ppm,
         CAST(conv(substring(md5(concat('lab', CAST(o_orderkey AS STRING))),
              1, 15), 16, 10) AS BIGINT) % 1000000 AS noise_ppm
  FROM orders_iso_v),
lab AS (
  SELECT div(score_ppm, 100000) AS bin,
         CASE WHEN score_ppm * 3 + noise_ppm > 1500000 THEN 1 ELSE 0 END AS y
  FROM scored),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM lab GROUP BY bin),
seg AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(div(sum(m.pos) * 1000000, sum(m.n)) AS BIGINT) AS mean_ppm
  FROM g j JOIN g k ON j.bin <= k.bin
  JOIN g m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin),
mins AS (
  SELECT i.bin AS bin, s.jb, min(s.mean_ppm) AS mn
  FROM g i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
  GROUP BY i.bin, s.jb),
fit AS (SELECT bin, CAST(max(mn) AS BIGINT) AS fitted_ppm FROM mins GROUP BY bin)
SELECT g.bin, g.n, g.pos,
       CAST(div(g.pos * 1000000, g.n) AS BIGINT) AS raw_rate_ppm,
       f.fitted_ppm
FROM g JOIN fit f USING (bin)
""")


@register(
    "mlprep_mutual_information",
    oracle="""
WITH j AS (
  SELECT n.n_name AS a, c.c_mktsegment AS b, CAST(count(*) AS BIGINT) AS n
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM j GROUP BY a),
mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM j GROUP BY b),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM j),
mi AS (
  SELECT tot.t, CAST(count(*) AS BIGINT) AS n_cells,
         round(sum((CAST(j.n AS DOUBLE) / tot.t)
                   * ln(CAST(j.n AS DOUBLE) * tot.t
                        / (CAST(ma.na AS DOUBLE) * mb.nb))), 9) AS mi_nats
  FROM j JOIN ma USING (a) JOIN mb USING (b), tot
  GROUP BY tot.t),
ha AS (
  SELECT round(sum(-(CAST(na AS DOUBLE) / tot.t)
                   * ln(CAST(na AS DOUBLE) / tot.t)), 9) AS h
  FROM ma, tot GROUP BY tot.t),
hb AS (
  SELECT round(sum(-(CAST(nb AS DOUBLE) / tot.t)
                   * ln(CAST(nb AS DOUBLE) / tot.t)), 9) AS h
  FROM mb, tot GROUP BY tot.t)
SELECT mi.t AS n_rows, mi.n_cells, mi.mi_nats,
       ha.h AS h_a, hb.h AS h_b,
       round(mi.mi_nats / sqrt(ha.h * hb.h), 9) AS nmi
FROM mi, ha, hb
""",
    doc="Mutual information between two categorical features (customer "
    "nation x market segment) plus entropies and the sqrt-normalized "
    "NMI — the information-theoretic feature-association score next to "
    "mlprep_cramers_v (chi-square based) and mlprep_information_value "
    "(binary-target WoE): MI is the one that generalizes to any "
    "downstream model.  MI = sum (p_ab * ln(p_ab/(p_a*p_b))) over the "
    "contingency grid.  Float discipline: all counts exact integers; "
    "each transcendental sum rounds at 1e-9 before the NMI combine "
    "(the perplexity-family re-sync), so both engines agree bit-for-"
    "bit.  Scale posture: one fact rollup to the |A|x|B| grid "
    "(map-side combinable), marginals and MI algebra on the KB-sized "
    "grid, dimension join broadcast.",
    tags=("mlprep",),
)
def mlprep_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("a"), F.col("c_mktsegment").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    ma = j.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    mb = j.groupBy("b").agg(F.sum("n").cast("bigint").alias("nb"))
    tot = j.agg(F.sum("n").cast("bigint").alias("t"))
    mi = (
        j.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.round(
                F.sum(
                    (F.col("n").cast("double") / F.col("t"))
                    * F.log(
                        F.col("n").cast("double")
                        * F.col("t")
                        / (F.col("na").cast("double") * F.col("nb"))
                    )
                ),
                9,
            ).alias("mi_nats"),
        )
    )
    ha = (
        ma.crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.round(
                F.sum(
                    -(F.col("na").cast("double") / F.col("t"))
                    * F.log(F.col("na").cast("double") / F.col("t"))
                ),
                9,
            ).alias("h_a")
        )
        .drop("t")
    )
    hb = (
        mb.crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.round(
                F.sum(
                    -(F.col("nb").cast("double") / F.col("t"))
                    * F.log(F.col("nb").cast("double") / F.col("t"))
                ),
                9,
            ).alias("h_b")
        )
        .drop("t")
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("t").alias("n_rows"),
            "n_cells",
            "mi_nats",
            "h_a",
            "h_b",
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_a") * F.col("h_b")), 9
            ).alias("nmi"),
        )
    )
