"""Extended LLM-data text operators: SimHash, exact n-gram Jaccard,
cosine near-dup, language-ID, quality scoring, token counting, winnowing
fingerprints.

These extend §2 J (BASELINE.json north star: dedup / text analysis as
first-class 100 TB operators).  Everything here is hash-oracled: the
per-word/gram hash is hex-of-md5 parsed to an integer, identical in
Spark (conv) and DuckDB (0x-cast), so even the sketches are
bit-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark import lexicons
from cobradb_spark.io import load_table
from cobradb_spark.ngrams import ngrams_sql, word_ngrams
from cobradb_spark.operators.skew import fan_out
from cobradb_spark.registry import register

# shared cross-engine gram snippets (cobradb_spark/ngrams.py)
_BI_SQL = ngrams_sql("str_split(text, ' ')", 2)
_TRI_SQL = ngrams_sql("str_split(text, ' ')", 3)

# 60-bit word hash: first 15 hex chars of md5 -> integer (same value in
# both engines; 60 bits keeps it inside a signed 64-bit long).
_H_SPARK = lambda col: F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")  # noqa: E731
_H_DUCK = "CAST(CAST(concat('0x', substr(md5({c}), 1, 15)) AS UBIGINT) AS BIGINT)"

_SIMHASH_BITS = 60
_SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 => >=1 of 4 chunks equal
_CHUNK_BITS = 15


def simhash_fingerprint(d: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, fingerprint): 60-bit SimHash from
    per-word md5 hashes, sign-of-bit-sums.  Shared by dedup_simhash and
    the cross-engine property fuzz (tests/test_functions.py)."""
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    words = words.select("doc_id", _H_SPARK(F.col("w")).alias("h"))
    bit_sums = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    fp_expr = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp_expr = term if fp_expr is None else fp_expr.bitwiseOR(term)
    return bit_sums.select("doc_id", fp_expr.alias("fingerprint"))


@register(
    "dedup_simhash",
    oracle=f"""
WITH words AS (
  SELECT doc_id, {_H_DUCK.format(c="unnest(str_split(text, ' '))")} AS h
  FROM documents
), bits AS (
  SELECT doc_id,
         {", ".join(f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END AS b{b}" for b in range(_SIMHASH_BITS))}
  FROM words GROUP BY doc_id
), fp AS (
  SELECT doc_id, ({" | ".join(f"b{b}" for b in range(_SIMHASH_BITS))}) AS fingerprint
  FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
""",
    doc="SimHash near-dup detection: 60-bit per-word md5 hashes, sign-of-bit-sums "
    "fingerprint, pairs at hamming distance <= 3. Spark side finds candidates via "
    "a BANDED equi-join (4 x 15-bit chunks — pigeonhole guarantees recall for "
    "hamming<=3), so the cross product is never materialized; the oracle brute- "
    "forces all pairs, proving the banding loses nothing.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprint(d.select("doc_id", "text"))

    chunks = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("fingerprint", i * _CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1))
                        .alias("key"),
                    )
                    for i in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fingerprint", "bk.band", "bk.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fingerprint").alias("fa"),
            F.col("b.fingerprint").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("fa ^ fb")).cast("long")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_BI_SQL}) AS shingle
  FROM documents
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS both
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.both AS DOUBLE) / (sa.n + sb.n - i.both), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.both AS DOUBLE) / (sa.n + sb.n - i.both) >= 0.5
""",
    doc="Exact n-gram (word-bigram) Jaccard dedup via inverted index: explode "
    "distinct shingles, self-join on the posting list, |A∩B| by count, Jaccard "
    "from set sizes. Exact, but not linear: the bigram self-join costs df^2 "
    "pair rows per common bigram of document frequency df (on 4 cores, 0.48 s "
    "at sf0.01 and 17.06 s at sf0.1, 35x on 10x data, all of it in execution). "
    "A document-frequency cap would drop true pairs; the exact fix is prefix "
    "filtering (AllPairs: index only each document's rarest bigrams, then "
    "verify the candidates), not implemented yet.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # split materialized once per row — element_at(split(...)) inside the
    # lambda re-splits the full text per gram (see dedup_containment_ngram)
    # fan_out: the bigram explode amplifies 1 row -> ~|words| rows and
    # would otherwise run at the scan's split parallelism on BOTH join
    # sides (r14: 4 serial Generate subtrees measured 23 s at sf0.1).
    w = fan_out(d.select("doc_id", F.split("text", " ").alias("w")), "doc_id")
    # |shingles(doc)| rides THROUGH the explode as a per-row column (the
    # array is sized before exploding), so no separate `sizes` aggregate
    # subtree and no join-back — the r14 plan drops from 4 Generate
    # (2 sizes branches re-exploding the corpus) + 3 joins to 2 Generate
    # + 1 join; n is a group key (constant per doc) in the pair rollup.
    gs = w.select("doc_id", F.array_distinct(word_ngrams("w", 2)).alias("gs"))
    sh = gs.select(
        "doc_id", F.size("gs").alias("n"), F.explode("gs").alias("shingle")
    )
    # NOTE r5: the posting-grouping + HOF pair-explode rewrite that won
    # for dedup_containment_ngram was A/B-tried here and LOST badly:
    # word-BIGRAM shingles have high document frequency (common word
    # pairs), so per-shingle pair explosion concentrates df^2 work into
    # single hub tasks, while the self-join spreads the same pairs
    # across shuffle partitions.  Keep the join form for high-df grams.
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("both"))
    )
    jac = F.col("both").cast("double") / (F.col("na") + F.col("nb") - F.col("both"))
    return (
        inter.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_containment_ngram",
    oracle="""
WITH words AS (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
  FROM words, unnest(range(1, greatest(len(w) - 4, 0) + 1)) t(i)
  WHERE len(w) >= 5
), cnt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT p.a_id, p.b_id, round(CAST(p.inter AS DOUBLE) / ca.n, 6) AS containment
FROM pairs p
JOIN cnt ca ON ca.doc_id = p.a_id
WHERE ca.n >= 5 AND CAST(p.inter AS DOUBLE) / ca.n >= 0.8
""",
    doc="Asymmetric CONTAINMENT dedup (doc-inside-doc): |shingles(A) ∩ "
    "shingles(B)| / |shingles(A)| over word 5-grams — the signal Jaccard "
    "misses when a short document is wholly quoted inside a long one "
    "(Jaccard divides by the UNION, so a 10x-longer host drags the score "
    "under any threshold; containment stays 1.0). Ordered pairs: (a, b) "
    "means a is >= 80%% contained in b. Same inverted-index shape as "
    "dedup_ngram_jaccard — explode distinct shingles, posting-list "
    "self-join, per-pair intersection counts — so cost follows shared "
    "shingles, not n^2; at scale drop stop-shingles above a "
    "document-frequency cap before the join.",
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Materialize the split ONCE per row before the gram lambda: referencing
    # F.split(...) inside transform() makes Catalyst re-evaluate the split
    # per element_at — 5 full-text splits PER GRAM (measured 11.6x on 10x
    # data before this; 1.7x after).  slice() builds each gram from the
    # materialized array in one call.
    # fan_out before the gram explode: same serial-scan amplification as
    # dedup_ngram_jaccard (the 5-gram build is ~|words| array_join calls
    # per doc, all fused into the one-split scan stage otherwise).
    w = fan_out(
        d.filter(F.size(F.split("text", " ")) >= 5).select(
            "doc_id", F.split("text", " ").alias("w")
        ),
        "doc_id",
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 4),
        lambda i: F.array_join(F.slice("w", i, 5), " "),
    )
    # |shingles(doc)| rides through the explode as a column (r14, same
    # rewrite as dedup_ngram_jaccard): no separate `sizes` aggregate
    # subtree re-exploding the corpus, no join-back — n travels inside
    # the posting-list structs and comes out as a group key.
    gsz = w.select("doc_id", F.array_distinct(grams).alias("gs"))
    sh = gsz.select(
        "doc_id", F.size("gs").alias("n"), F.explode("gs").alias("g")
    )
    # Pair generation via posting-list grouping + ordered-pair HOF
    # explode instead of a sh><sh self-join (r5): the join shuffled the
    # full 250k-row posting list TWICE (both sides) plus the joined
    # output; grouping shuffles it ONCE and the x!=y pairs explode from
    # a narrow map.  Same pair multiset (each doc appears once per
    # distinct gram), measured df is tiny here (max 4 at sf0.1) so the
    # explode has no skewed hub task; at 100 TB a df-cap on stop-grams
    # would bound the hot tail before the explode, same as the jaccard
    # variant's documented mitigation.
    lists = (
        sh.groupBy("g")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    inter = (
        lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, x -> "
                    "transform(filter(ds, y -> y.doc_id != x.doc_id), "
                    "y -> struct(x.doc_id AS a_id, x.n AS na, y.doc_id AS b_id))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.na", "p.b_id")
        .groupBy("a_id", "b_id", "na")
        .agg(F.count("*").alias("inter"))
    )
    containment = F.col("inter").cast("double") / F.col("na")
    return (
        inter.filter((F.col("na") >= 5) & (containment >= 0.8))
        .select("a_id", "b_id", F.round(containment, 6).alias("containment"))
    )


@register(
    "dedup_cosine_near",
    oracle="""
WITH ex AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), norms AS (
  SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
  FROM ex GROUP BY 1
)
SELECT d.a_id, d.b_id, round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots d
JOIN norms na ON na.vec_id = d.a_id
JOIN norms nb ON nb.vec_id = d.b_id
WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
""",
    doc="Embedding-cosine near-dup: all pairs with cosine >= 0.4 via the shared "
    "size-gated kernel (operators/knn.py cosine_near_pairs): broadcast-matrix "
    "BLAS while the corpus fits the broadcast budget, LSH candidates + exact "
    "re-score beyond it — the 100 TB path needs no code change, only data "
    "growth past the gate.",
)
def dedup_cosine_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.knn import cosine_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_pairs(emb, threshold=0.4)


# Promoted to the shared public module cobradb_spark/lexicons.py
# (round-13 ADVICE); aliases kept so existing call sites read the same.
_EN, _DE, _ES = lexicons.EN, lexicons.DE, lexicons.ES
_hits_duck = lexicons.hits_sql


@register(
    "text_lang_id",
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang,
         {_hits_duck(_EN)} AS en_hits,
         {_hits_duck(_DE)} AS de_hits,
         {_hits_duck(_ES)} AS es_hits
  FROM documents
)
SELECT doc_id, lang,
       CAST(en_hits AS BIGINT) AS en_hits,
       CAST(de_hits AS BIGINT) AS de_hits,
       CAST(es_hits AS BIGINT) AS es_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
            WHEN es_hits > 0 THEN 'es'
            ELSE 'und' END AS lang_pred
FROM scores
""",
    doc="Language-ID heuristic: stopword-lexicon hit counts per language, argmax "
    "with a fixed tie order (en > de > es > und). Pure codegen — a real n-gram "
    "model swaps the lexicons for trigram tables, same plan shape.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        lexicons.hits(words, _EN).alias("en_hits"),
        lexicons.hits(words, _DE).alias("de_hits"),
        lexicons.hits(words, _ES).alias("es_hits"),
    )
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("de_hits"))
            & (F.col("en_hits") >= F.col("es_hits"))
            & (F.col("en_hits") > 0),
            "en",
        )
        .when((F.col("de_hits") >= F.col("es_hits")) & (F.col("de_hits") > 0), "de")
        .when(F.col("es_hits") > 0, "es")
        .otherwise("und")
    )
    return scored.withColumn("lang_pred", pred)


@register(
    "text_quality_score",
    oracle="""
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
       round((length(text) - len(str_split(text, ' ')) + 1.0)
             / len(str_split(text, ' ')), 6) AS avg_word_len,
       round(CAST(len(list_filter(str_split(text, ' '),
             x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS DOUBLE)
             / len(str_split(text, ' ')), 6) AS stopword_ratio,
       round(least(len(str_split(text, ' ')) / 100.0, 1.0) * 0.5
             + least((length(text) - len(str_split(text, ' ')) + 1.0)
                     / len(str_split(text, ' ')) / 8.0, 1.0) * 0.5, 6) AS quality
FROM documents
""",
    doc="Text quality scoring (length / word-shape / stopword-ratio composite) — "
    "the pretraining-corpus filter shape: one pass, all codegen, score is a "
    "deterministic arithmetic blend.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    awl = (F.length("text") - n_words + 1.0) / n_words
    stop_ratio = F.size(F.filter(words, lambda x: x.isin(*_EN))).cast("double") / n_words
    quality = F.least(n_words / 100.0, F.lit(1.0)) * 0.5 + F.least(awl / 8.0, F.lit(1.0)) * 0.5
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(awl, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
         AS bpe_ish_tokens
FROM documents
""",
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(letter-runs | digit-runs | single punctuation) — the cheap pre-tokenize "
    "estimator for corpus sizing.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint_winnow",
    oracle="""
WITH t AS (
  SELECT doc_id, substr(text, 1, 200) AS s FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(s) - 7, 1) + 1),
           i -> CAST(CAST(concat('0x', substr(md5(substr(s, CAST(i AS INTEGER), 8)), 1, 8))
                AS UBIGINT) AS BIGINT)) AS h
  FROM t
), winnowed AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, greatest(len(h) - 3, 1) + 1),
             j -> list_min(list_slice(h, j, j + 3))))) AS fps
  FROM grams
)
SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
       fps[1] AS min_fingerprint
FROM winnowed
""",
    doc="Document fingerprinting via winnowing (Schleimer et al., SIGMOD 2003 "
    "shape): rolling 8-gram hashes (md5-derived, cross-engine identical), min "
    "per 4-window, distinct sorted fingerprint set. Bounded to the first 200 "
    "chars per doc so the per-row cost is constant.",
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = F.substring("text", 1, 200)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - 7, F.lit(1))),
        lambda i: F.conv(F.substring(F.md5(F.substring(s, i, F.lit(8))), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    with_h = d.select("doc_id", grams.alias("h"))
    winnow = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("h") - 3, F.lit(1))),
                lambda j: F.array_min(F.slice("h", j, F.lit(4))),
            )
        )
    )
    out = with_h.select("doc_id", winnow.alias("fps"))
    return out.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.element_at("fps", 1).alias("min_fingerprint"),
    )


@register(
    "text_feature_hashing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
), bucketed AS (
  SELECT doc_id,
         {_H_DUCK.format(c="w")} % 8 AS bucket
  FROM toks
)
SELECT doc_id,
       {", ".join(f"CAST(count(*) FILTER (WHERE bucket = {b}) AS BIGINT) AS f{b}" for b in range(8))}
FROM bucketed GROUP BY doc_id
""",
    doc="Feature hashing (the 'hashing trick'): tokens md5-hashed into 8 "
    "buckets, per-doc bucket counts = a fixed-width feature vector with no "
    "vocabulary build. The standard featurizer for streaming/huge-corpus "
    "classifiers: one explode + one pivot-free conditional aggregate, no "
    "global dictionary state to shuffle or ship. Cross-engine identical "
    "md5 bucketing makes the whole vector hash-exact.",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    bucket = (_H_SPARK(F.col("w")) % 8).alias("bucket")
    return (
        toks.select("doc_id", bucket)
        .groupBy("doc_id")
        .agg(*[F.count_if(F.col("bucket") == b).alias(f"f{b}") for b in range(8)])
    )


@register(
    "text_inverted_index",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM tok GROUP BY term HAVING count(*) >= 3
""",
    doc="Inverted-index build: term -> document-frequency + sorted posting "
    "list, the retrieval/decontamination backbone (same index shape "
    "decontam_ngram_overlap probes). explode -> per-doc distinct -> groupBy "
    "term; map-side partial distinct keeps the shuffle on (term, doc_id) "
    "pairs, and posting lists are bounded by n_docs per term. At 100 TB the "
    "df >= 3 floor drops the hapax tail (most of the vocabulary); a stopword "
    "ceiling (df <= c * n_docs) would cap hot-term list length the same way "
    "— both are ordinary HAVING filters on the already-aggregated index.",
    tags=("textops",),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            # ','-joined string, not a raw array: the driver's canonicalizer
            # cannot hash array cells (r3 ERR class); doc_ids contain no ','.
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
        )
        .filter(F.col("df") >= 3)
    )


@register(
    "text_unigram_perplexity",
    oracle="""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
  ) WHERE term <> ''
), lm AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY term
), total AS (
  SELECT sum(tf) AS n, CAST(count(*) AS DOUBLE) AS v FROM lm
), scored AS (
  SELECT t.doc_id,
         count(*) AS n_tok,
         round(avg(-ln((l.tf + 1.0) / (tt.n + tt.v))), 9) AS nll
  FROM tok t JOIN lm l USING (term), total tt
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       round(exp(nll), 6) AS perplexity
FROM scored
""",
    doc="Unigram language-model perplexity per document (add-one smoothed, "
    "corpus-fit): the perplexity-filtering signal LLM pipelines use to "
    "drop boilerplate and gibberish before training. The LM is a term-"
    "frequency aggregate (shuffle = |vocab|); scoring joins tokens to the "
    "LM on the term — a broadcast join once the vocabulary is floored "
    "(text_inverted_index's df>=3 trick) — then per-doc mean NLL. "
    "Mean-NLL rounded to 9 on both engines before exp so the transcendental "
    "re-syncs bit-exactly.",
    tags=("textops",),
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    lm = tok.groupBy("term").agg(F.count("*").cast("double").alias("tf"))
    total = lm.agg(
        F.sum("tf").alias("n"), F.count("*").cast("double").alias("v")
    )
    scored = (
        tok.join(F.broadcast(lm), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(
                F.avg(-F.log((F.col("tf") + 1.0) / (F.col("n") + F.col("v")))), 9
            ).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.round(F.exp("nll"), 6).alias("perplexity"),
    )


@register(
    "dedup_sorted_neighborhood",
    oracle="""
WITH u AS (
  SELECT 's' AS side, s_suppkey AS rec_id,
         regexp_replace(lower(s_name), '^supplier#', '') AS nm FROM supplier
  UNION ALL
  SELECT 'c' AS side, c_custkey AS rec_id,
         regexp_replace(lower(c_name), '^customer#', '') AS nm FROM customer
), ranked AS (
  SELECT side, rec_id, nm,
         row_number() OVER (ORDER BY nm, side, rec_id) AS rnk
  FROM u
), pairs AS (
  SELECT a.side AS side_a, a.rec_id AS id_a, a.nm AS nm_a,
         b.side AS side_b, b.rec_id AS id_b, b.nm AS nm_b
  FROM ranked a JOIN ranked b ON b.rnk = a.rnk + 1 OR b.rnk = a.rnk + 2
)
SELECT side_a, id_a, side_b, id_b,
       CAST(levenshtein(nm_a, nm_b) AS BIGINT) AS dist
FROM pairs
WHERE side_a <> side_b AND levenshtein(nm_a, nm_b) <= 3
""",
    doc="Sorted-neighborhood record linkage: union both record sets, sort "
    "once by the blocking key (lowercased name), and compare each record "
    "only to its w=2 successors — the classic entity-resolution blocking "
    "that turns O(n^2) comparisons into O(n*w). The blocking key strips "
    "the entity-type prefix (supplier#/customer#) so cross-side records "
    "with near-identical suffixes actually land adjacent — with the raw "
    "prefixed names every cross-side distance exceeded the threshold and "
    "the check compared zero rows (vacuous). The global sort rank is "
    "computed DISTRIBUTED (operators/rank.py: range-partition + offset "
    "prefix-sum — never a single-partition window), and the neighbor "
    "pairing is two equi-joins on rank+k, so every stage partitions "
    "cleanly at 100 TB. Complements join_fuzzy_blocked (PassJoin segment "
    "blocking): SNM wins when typos cluster lexicographically.",
    tags=("textops",),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank

    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("s").alias("side"),
        F.col("s_suppkey").alias("rec_id"),
        F.regexp_replace(F.lower("s_name"), "^supplier#", "").alias("nm"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("c").alias("side"),
        F.col("c_custkey").alias("rec_id"),
        F.regexp_replace(F.lower("c_name"), "^customer#", "").alias("nm"),
    )
    ranked = global_rank(
        s.unionAll(c), [F.col("nm"), F.col("side"), F.col("rec_id")], rank_col="rnk"
    )
    a = ranked.select(
        F.col("side").alias("side_a"), F.col("rec_id").alias("id_a"),
        F.col("nm").alias("nm_a"), F.col("rnk").alias("rnk_a"),
    )
    b = ranked.select(
        F.col("side").alias("side_b"), F.col("rec_id").alias("id_b"),
        F.col("nm").alias("nm_b"), F.col("rnk").alias("rnk_b"),
    )
    pairs = None
    for k in (1, 2):
        pk = a.join(b, F.col("rnk_b") == F.col("rnk_a") + k)
        pairs = pk if pairs is None else pairs.unionAll(pk)
    dist = F.levenshtein("nm_a", "nm_b")
    return (
        pairs.filter((F.col("side_a") != F.col("side_b")) & (dist <= 3))
        .select("side_a", "id_a", "side_b", "id_b", dist.cast("long").alias("dist"))
    )


@register(
    "text_repetition_stats",
    oracle="""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
arr AS (
  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) AS bgs
  FROM w
), md AS (
  SELECT doc_id, max(c) AS top_n
  FROM (SELECT doc_id, unnest(ws) AS word, 1 AS one FROM w) raw
       , LATERAL (SELECT 1) dummy(x)
  GROUP BY doc_id, word
  -- collapsed below; duckdb needs two levels for max-of-count
), md2 AS (
  SELECT doc_id, max(c) AS top_n FROM (
    SELECT doc_id, word, count(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS word FROM w)
    GROUP BY doc_id, word
  ) GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(a.n_words AS BIGINT) AS n_words,
       round(1.0 - a.n_distinct / CAST(a.n_words AS DOUBLE), 6) AS dup_word_frac,
       round(1.0 - len(list_distinct(a.bgs)) / CAST(nullif(len(a.bgs), 0) AS DOUBLE), 6)
         AS dup_bigram_frac,
       round(m.top_n / CAST(a.n_words AS DOUBLE), 6) AS top_word_frac
FROM arr a JOIN md2 m ON a.doc_id = m.doc_id
""",
    doc="Gopher-style repetition quality signals per document: duplicate-word "
    "fraction, duplicate-bigram fraction, and most-frequent-word fraction — "
    "the standard filters for boilerplate/spam in pretraining corpora.  Word "
    "and bigram dedup run as JVM array higher-order functions (zero Python, "
    "per-row cost linear in doc length); the mode frequency uses an "
    "explode + (doc, word) groupBy, which shuffles (doc, word) pairs — "
    "bounded by corpus token count, never quadratic.",
    tags=("textops", "llm"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(F.col("w"), i), F.lit(" "), F.element_at(F.col("w"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    arr = base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        bigrams.alias("bgs"),
    )
    mode = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_n"))
    )
    return arr.join(mode, "doc_id").select(
        "doc_id",
        "n_words",
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 6).alias("dup_word_frac"),
        F.round(
            1.0 - F.size(F.array_distinct("bgs")) / F.nullif(F.size("bgs"), F.lit(0)), 6
        ).alias("dup_bigram_frac"),
        F.round(F.col("top_n") / F.col("n_words"), 6).alias("top_word_frac"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'HTTPS://www.' || source || '.Example.com/page/' ||
         CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&sid=' ||
         CAST(doc_id AS VARCHAR) AS url
  FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://', ''),
               '^www\\.', ''),
             '\\?.*$', ''),
           '/+$', '') AS curl
  FROM u
)
SELECT curl, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon GROUP BY curl
""",
    doc="URL-canonicalization dedup — the first pass of every web-crawl "
    "pretraining pipeline: lowercase, strip scheme / www / query string / "
    "trailing slash, then group identical canonical URLs keeping the lowest "
    "doc_id.  (Testdata has no URL column, so a deterministic URL is "
    "synthesized per doc with case/query noise; the operator under test is "
    "the JVM regex canonicalization chain + hash groupBy, both "
    "shuffle-bounded by |distinct canonical URLs|.)",
    tags=("textops", "llm"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://www."),
        F.col("source"),
        F.lit(".Example.com/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_source=feed&sid="),
        F.col("doc_id").cast("string"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://", ""), r"^www\.", ""
            ),
            r"\?.*$",
            "",
        ),
        "/+$",
        "",
    )
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "text_bpe_pair_counts",
    oracle="""
WITH wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
), pairs AS (
  SELECT unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair,
         freq
  FROM wf
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
""",
    doc="BPE tokenizer training, iteration 0: corpus-weighted adjacent "
    "character-pair counts — the merge-candidate table a byte-pair-encoding "
    "trainer maximizes over.  The corpus first collapses to (distinct word, "
    "frequency) — the standard BPE trick that bounds all later work by "
    "|vocab|, not corpus size — then pairs explode from a JVM HOF over each "
    "distinct word and one hash aggregate + TakeOrdered yields the top-20 "
    "merge candidates (ties broken by pair text, deterministic).",
    tags=("textops", "llm"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "dedup_repeated_spans",
    oracle="""
WITH sp AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, (length(text) - 32) // 16 + 2),
                i -> substr(text, CAST((i - 1) * 16 + 1 AS BIGINT), 32))) AS span
  FROM documents WHERE length(text) >= 32
), shared AS (
  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1
)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_spans
FROM sp s JOIN shared USING (span)
GROUP BY s.doc_id
""",
    doc="Cross-document repeated-span detection — the exact-substring dedup "
    "signal (Lee et al., 'Deduplicating Training Data Makes Language Models "
    "Better'): 32-char spans sampled at stride 16 per document, spans "
    "appearing in more than one document flagged, per-doc count of shared "
    "spans emitted.  A production pass would excise the spans; the detection "
    "machinery is identical.  Cost: explode is length/stride per doc (never "
    "quadratic), the span groupBy shuffles one row per sampled span, and the "
    "flag joins back by span hash — all bounded by corpus size at 100 TB.",
    tags=("textops", "llm"),
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 32)
    n_spans = F.floor((F.length("text") - 32) / 16) + 1
    spans = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_spans),
                    lambda i: F.substring(F.col("text"), ((i - 1) * 16 + 1).cast("int"), 32),
                )
            )
        ).alias("span"),
    )
    shared = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("span")
    )
    return (
        spans.join(shared, "span")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_spans"))
    )


@register(
    "text_bigram_perplexity",
    oracle="""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, greatest(len(ws), 1))) AS t(i)
  WHERE len(ws) >= 2
), uni AS (
  SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1
), lm AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM bg GROUP BY w1, w2
), vocab AS (
  SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bg
), scored AS (
  SELECT b.doc_id,
         count(*) AS n_bigrams,
         round(avg(-ln((l.c12 + 1.0) / (u.c1 + vv.v))), 9) AS nll
  FROM bg b
  JOIN lm l ON l.w1 = b.w1 AND l.w2 = b.w2
  JOIN uni u ON u.w1 = b.w1, vocab vv
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(exp(nll), 6) AS perplexity
FROM scored
""",
    doc="Bigram language-model perplexity per document (add-one smoothed "
    "conditionals p(w2|w1) = (c12+1)/(c1+V), corpus-fit) — the "
    "context-aware upgrade of text_unigram_perplexity: repetitive "
    "boilerplate scores LOW (its transitions are predictable) while "
    "shuffled-word gibberish that fools a unigram LM scores HIGH, which "
    "is exactly the split a pretraining quality filter needs. Shapes: "
    "bigram explode from the materialized word array (one pass), two "
    "frequency aggregates (shuffle = |bigram vocab|), scoring joins "
    "back on (w1, w2) and w1, per-doc mean NLL. Mean-NLL rounds to 9 "
    "on both engines before exp so the transcendental re-syncs "
    "bit-exactly. At 100 TB the LM tables floor rare bigrams "
    "(df cap) and broadcast, same as the unigram variant.",
    tags=("textops",),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.struct(
            F.element_at("ws", i).alias("w1"),
            F.element_at("ws", i + F.lit(1)).alias("w2"),
        ),
    )
    bg = (
        w.filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    uni = bg.groupBy("w1").agg(F.count("*").cast("double").alias("c1"))
    lm = bg.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
    vocab = bg.agg(F.count_distinct("w2").cast("double").alias("v"))
    scored = (
        bg.join(lm, ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(-F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))), 9
            ).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(F.exp("nll"), 6).alias("perplexity"),
    )


_BPE_RULES = 8

_BPE_APPLY_ORACLE = """
WITH RECURSIVE
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
),
pc AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT unnest(list_transform(range(1, length(word)),
                      i -> substr(word, i, 2))) AS pair, freq FROM wf)
  GROUP BY pair ORDER BY n DESC, pair LIMIT 8
),
rules AS (
  SELECT substr(pair, 1, 1) AS ra, substr(pair, 2, 1) AS rb,
         row_number() OVER (ORDER BY n DESC, pair) AS rrank
  FROM pc
),
apply AS (
  SELECT word, freq,
         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                i -> substr(word, i, 1)), ' ') || ' ' AS toks
  FROM wf
  UNION ALL
  SELECT word, freq,
         substr(toks, 1, best.pos - 1) || ' ' || best.merged || ' '
           || substr(toks, best.pos + best.patlen)
  FROM (
    SELECT word, freq, toks,
           (SELECT struct_pack(
                pos := strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' '),
                patlen := length(r.ra) + length(r.rb) + 3,
                merged := r.ra || r.rb)
            FROM rules r
            WHERE strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' ') > 0
            ORDER BY r.rrank LIMIT 1) AS best
    FROM apply ap
  ) WHERE best IS NOT NULL
),
final AS (
  SELECT word, freq, toks FROM apply ap
  WHERE NOT EXISTS (SELECT 1 FROM rules r
                    WHERE strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' ') > 0)
),
tokens AS (SELECT unnest(str_split(trim(toks), ' ')) AS token, freq FROM final)
SELECT token, CAST(sum(freq) AS BIGINT) AS n_occ
FROM tokens GROUP BY token
"""


@register(
    "text_bpe_apply",
    oracle=_BPE_APPLY_ORACLE,
    doc="BPE tokenizer APPLICATION — the other half of text_bpe_pair_counts' "
    f"training step: the top-{_BPE_RULES} character-pair merges (by corpus-"
    "weighted count, pair-text tie-break) become a ranked merge table, and "
    "every distinct word re-tokenizes by the deterministic greedy rule "
    "'merge the LEFTMOST occurrence of the lowest-rank applicable pair, "
    "re-evaluate' until no rule applies — the rank-priority semantics of "
    "standard BPE encoders, pinned to one explicit tie-order so both "
    "engines replay it exactly.  Output: corpus token-frequency table "
    "after merging.  Spark shape: work is bounded by |vocab| (the distinct-"
    "word collapse, as in training); the 8-row merge table collects to the "
    "driver (O(1), like kmeans seeds) and broadcasts into an Arrow-batched "
    "mapInPandas that runs the merge loop per word; token stats are one "
    "hash agg.  The oracle replays the IDENTICAL algorithm as a DuckDB "
    "recursive CTE over the spaced-token string (leftmost strpos, min-rank "
    "arg-pick, single splice per step) — an iterative algorithm made "
    "SQL-checkable.  At 100 TB: vocab stays ~10^6, the apply is "
    "embarrassingly parallel, and a real deployment would loop "
    "train->apply per merge round with the same two stages.",
    tags=("textops", "llm"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_RULES)
        .collect()
    )
    rules = [(r["pair"][0], r["pair"][1]) for r in top]  # rank = list order

    def apply_merges(batches):
        for pdf in batches:
            out_tok, out_freq = [], []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                toks = list(word)
                while True:
                    best = None  # (rank, leftmost position)
                    for rank, (ra, rb) in enumerate(rules):
                        for j in range(len(toks) - 1):
                            if toks[j] == ra and toks[j + 1] == rb:
                                if best is None or rank < best[0]:
                                    best = (rank, j)
                                break
                    if best is None:
                        break
                    j = best[1]
                    toks[j : j + 2] = [toks[j] + toks[j + 1]]
                out_tok.extend(toks)
                out_freq.extend([freq] * len(toks))
            yield pd.DataFrame({"token": out_tok, "freq": out_freq})

    toks = wf.mapInPandas(apply_merges, schema="token string, freq long")
    return toks.groupBy("token").agg(F.sum("freq").cast("long").alias("n_occ"))


_CHUNK_SIZE, _CHUNK_STRIDE = 64, 48  # tokens per chunk / stride (25% overlap)


@register(
    "text_chunk_sliding",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents
), spans AS (
  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tok,
         generate_subscripts(
           range(0, greatest(CAST(ceil(CAST(greatest(len(w) - {_CHUNK_SIZE}, 0) AS DOUBLE)
                                        / {_CHUNK_STRIDE}) AS BIGINT) + 1, 1)), 1) - 1
             AS chunk_id
  FROM toks
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(w[chunk_id * {_CHUNK_STRIDE} + 1 :
                         chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
           AS chunk_text,
       CAST(least(n_tok - chunk_id * {_CHUNK_STRIDE}, {_CHUNK_SIZE}) AS BIGINT)
           AS chunk_tokens
FROM spans
""",
    doc=f"Sliding-window chunking for RAG / pretraining prep: each "
    f"document splits into {_CHUNK_SIZE}-token chunks at stride "
    f"{_CHUNK_STRIDE} (25% overlap), chunk count = "
    "ceil(max(n_tok - size, 0) / stride) + 1 so the tail is always "
    "covered and every doc yields >= 1 chunk. Pure JVM-side array ops — "
    "split once, then explode over chunk indices and slice the shared "
    "token array (no per-chunk re-tokenize, no Python); a narrow "
    "row-growth map with zero shuffles, embarrassingly parallel at any "
    "scale. The chunk grain here is what the embedding / ANN / MaxSim "
    "family consumes downstream.",
    tags=("text", "llm"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_tok = F.size("w").cast("bigint")
    n_chunks = (
        F.ceil(
            F.greatest(n_tok - _CHUNK_SIZE, F.lit(0)).cast("double")
            / _CHUNK_STRIDE
        ).cast("bigint")
        + 1
    )
    spans = d.select(
        "doc_id",
        "w",
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * _CHUNK_STRIDE
    return spans.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(
            F.slice("w", start + 1, F.lit(_CHUNK_SIZE)), " "
        ).alias("chunk_text"),
        F.least(F.col("n_tok") - start, F.lit(_CHUNK_SIZE))
        .cast("bigint")
        .alias("chunk_tokens"),
    )


_RAKE_STOP = ("a", "the")
_RAKE_K = 3


@register(
    "text_keyphrase_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, u.w, u.pos
  FROM documents,
       LATERAL (SELECT unnest(str_split(text, ' ')) AS w,
                       generate_subscripts(str_split(text, ' '), 1) AS pos) u
), marked AS (
  SELECT doc_id, w, pos,
         CASE WHEN w IN {_RAKE_STOP} THEN 1 ELSE 0 END AS is_stop,
         sum(CASE WHEN w IN {_RAKE_STOP} THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS pid
  FROM toks
), words AS (
  SELECT doc_id, pid, pos, w FROM marked WHERE is_stop = 0
), phrases AS (
  SELECT doc_id, pid,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM words GROUP BY doc_id, pid
), wstat AS (
  SELECT wd.w,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.plen) AS BIGINT) AS deg
  FROM words wd JOIN phrases p USING (doc_id, pid)
  GROUP BY wd.w
), wscore AS (
  SELECT w, deg * 1000000 // freq AS ppm FROM wstat
), pscore AS (
  SELECT wd.doc_id, wd.pid, CAST(sum(ws.ppm) AS BIGINT) AS score_ppm
  FROM words wd JOIN wscore ws USING (w)
  GROUP BY wd.doc_id, wd.pid
), dedup AS (
  SELECT p.doc_id, p.phrase, max(s.score_ppm) AS score_ppm
  FROM phrases p JOIN pscore s USING (doc_id, pid)
  GROUP BY p.doc_id, p.phrase
), rnk AS (
  SELECT doc_id, phrase, score_ppm,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_ppm DESC, phrase) AS rank
  FROM dedup
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, score_ppm
FROM rnk WHERE rank <= {_RAKE_K}
""",
    doc="RAKE keyphrase extraction (Rose et al.'s rapid automatic "
    "keyword extraction): candidate phrases are maximal stopword-free "
    "token runs; each word scores degree/frequency over the corpus "
    "(degree = summed length of phrases containing it), a phrase scores "
    "the sum of its words, and each doc keeps its top-3 phrases with "
    "deterministic (score, phrase) ranking. All scoring is exact "
    "integer ppm (deg*1e6 // freq — no float division anywhere), so "
    "the hash gate is exact. Execution: phrase segmentation is a "
    "running stopword count per doc (one window), word stats are one "
    "(word) rollup joined back broadcast-style, and phrase text "
    "canonicalizes via ordered string_agg / sorted collect — every "
    "stage map-side-combinable; at 100 TB the only corpus-global state "
    "is the |vocab|-row word-score table.",
    tags=("text", "llm"),
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*_RAKE_STOP).cast("int")
    wp = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = toks.select(
        "doc_id", "pos", "w", is_stop.alias("is_stop"),
        F.sum(is_stop).over(wp).alias("pid"),
    )
    words = marked.filter(F.col("is_stop") == 0).select(
        "doc_id", "pid", "pos", "w"
    )
    phrases = words.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    wstat = (
        words.join(phrases.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    wscore = wstat.select("w", F.expr("div(deg * 1000000, freq)").alias("ppm"))
    pscore = (
        words.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "pid")
        .agg(F.sum("ppm").cast("bigint").alias("score_ppm"))
    )
    dedup = (
        phrases.join(pscore, ["doc_id", "pid"])
        .groupBy("doc_id", "phrase")
        .agg(F.max("score_ppm").alias("score_ppm"))
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("phrase")
    )
    return (
        dedup.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RAKE_K)
        .select(
            "doc_id", F.col("rank").cast("bigint").alias("rank"),
            "phrase", "score_ppm",
        )
    )


@register(
    "dedup_span_excise",
    oracle="""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= 40
), p AS (
  SELECT doc_id, unnest(generate_series(1, length(text) - 39)) AS pos, text
  FROM d
), g AS (
  SELECT doc_id, pos, substr(text, pos::INT, 40) AS gram FROM p
), freq AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
), dup AS (
  SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos - prev > 40 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
), spans AS (
  SELECT doc_id, island, max(pos) - min(pos) + 40 AS span_chars
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS dup_spans,
       CAST(sum(span_chars) AS BIGINT) AS dup_chars,
       CAST(max(span_chars) AS BIGINT) AS max_span
FROM spans GROUP BY doc_id
ORDER BY dup_chars DESC, doc_id LIMIT 200
""",
    doc="Exact-substring excision planning (Lee et al., 'Deduplicating "
    "Training Data Makes Language Models Better', the ExactSubstr pass): "
    "every 40-char window whose text occurs more than once in the corpus "
    "(cross- OR intra-document) marks its position duplicated; per "
    "document, overlapping-or-adjacent duplicated windows merge into "
    "maximal excisable spans (gaps-and-islands over positions: a new "
    "island starts when pos - prev > 40).  Output per doc: span count, "
    "total excisable chars, longest span — exactly the cut list a "
    "production ExactSubstr dedup applies (dedup_exactsubstr_cut performs "
    "the cut itself at L=50).  Differs from dedup_repeated_spans (strided "
    "detection signal) by dense coverage and by producing merged interval "
    "extents.  Duplicate detection is EXACT string equality via the "
    "shared two-phase plan (_exact_dup_positions): an xxhash64 prefilter "
    "shuffles only 8-byte hashes for the full position stream, and the "
    "40-char gram strings move only for the hash-candidate set — "
    "collision-proof, unlike the r3-era 60-bit-md5 formulation this "
    "replaced (identical results on collision-free data, ~2x faster: the "
    "md5 bignum-conv per position was the op's dominant constant and ran "
    "twice, once per consumer of the shingle stream).  Scale: the gram "
    "emit is one row per char (linear in corpus bytes); frequency uses "
    "groupBy (map-side partial agg, skew-safe) joined back rather than a "
    "count-over-window that would hot-spot a pathological shingle; island "
    "merge windows partition per doc_id (bounded by doc length); the "
    "top-200 is TakeOrdered, never a global sort.",
    tags=("textops", "llm"),
)
def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 40)
        .select("doc_id", "text", F.length("text").alias("n"))
    )
    dup = _exact_dup_positions(d, 40)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup.withColumn("prev", F.lag("pos").over(wdoc))
        .withColumn(
            "new_isl",
            F.when(F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 40), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(wdoc))
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + 40).alias("span_chars")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("dup_spans"),
            F.sum("span_chars").cast("bigint").alias("dup_chars"),
            F.max("span_chars").cast("bigint").alias("max_span"),
        )
        .orderBy(F.col("dup_chars").desc(), "doc_id")
        .limit(200)
    )


_XS_L = 50  # ExactSubstr gram length (Lee et al. use 50 BPE tokens; chars here)


def _exact_dup_positions(d: DataFrame, L: int) -> DataFrame:
    """(doc_id, pos) of every L-char gram that occurs more than once
    corpus-wide — EXACT string equality, found by a two-phase plan that
    never shuffles gram strings for the full position stream.

    Phase 1 hashes every gram with the engine's fastest native hash
    (xxhash64 — it is ONLY a prefilter, so no cross-engine parity is
    required) and aggregates 8-byte hashes with map-side partial
    counts.  Phase 2 moves the L-char strings only for positions whose
    hash repeats (the candidate set, bounded by the corpus duplicate
    rate) and verifies with an exact string groupBy — collision-proof.
    The candidate-hash set broadcasts when under 2M entries
    (size-gated, driver-counted) and degrades to an equi-join on the
    8-byte hash otherwise.  `d` must carry doc_id, text, n=length(text)
    with n >= L already enforced.  Shared by dedup_span_excise (L=40,
    span planning) and dedup_exactsubstr_cut (L=50, real excision).
    """
    from cobradb_spark.operators.rank import pin_cache

    # The hash stream is pinned NARROW — (doc_id, pos, h), 24 bytes/row,
    # no gram strings — so the explode+substring+hash pass over the
    # corpus runs ONCE instead of twice (once for the candidate-hash
    # count gate, once for the candidate join).  r14 A/B had REJECTED
    # caching the WIDE stream (gram column included: 6.4-8.9 ->
    # 9.3-10.2 s for the cut key — the 50-char strings made the cache
    # write cost more than the recompute); the r15 narrow variant keeps
    # the win without the string payload (verdict item 6).  Candidate
    # grams are re-derived by substring from the docs table at
    # verify time — candidates are bounded by the corpus duplicate
    # rate, so that join touches a small fraction of positions.
    ph = pin_cache(
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n") - (L - 1))).alias("pos"),
            "text",
        ).select(
            "doc_id",
            "pos",
            F.xxhash64(F.expr(f"substring(text, pos, {L})")).alias("h"),
        )
    )
    cand_h = pin_cache(
        ph.groupBy("h").count().filter(F.col("count") > 1).select("h")
    )
    # Bounded driver scalar: one count of the candidate-hash set decides
    # broadcast vs shuffle join (the knn.py size-gate discipline); it
    # also materializes the pinned candidate-hash cache.
    if cand_h.count() <= 2_000_000:
        cand_h = F.broadcast(cand_h)
    # pinned: the candidate set (orders below the position stream)
    # feeds both the exact-verify groupBy and the dup join — caching
    # stops the candidate derivation from re-executing per consumer
    cand = pin_cache(
        ph.join(cand_h, "h")
        .select("doc_id", "pos")
        .join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id", "pos", F.expr(f"substring(text, pos, {L})").alias("gram")
        )
    )
    gfreq = (
        cand.groupBy("gram").count().filter(F.col("count") > 1).select("gram")
    )
    return cand.join(gfreq, "gram").select("doc_id", "pos")


@register(
    "dedup_exactsubstr_cut",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE length(text) >= {_XS_L}
), p AS (
  SELECT doc_id, unnest(generate_series(1, n - {_XS_L - 1})) AS pos, text
  FROM d
), g AS (
  SELECT doc_id, pos, substr(text, pos::INT, {_XS_L}) AS gram FROM p
), freq AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
), dup AS (
  SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos - prev > {_XS_L} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
), spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {_XS_L - 1} AS e
  FROM isl GROUP BY doc_id, island
), sp AS (
  SELECT doc_id, s, e,
         lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC) AS rdesc
  FROM spans
), segs AS (
  SELECT doc_id, coalesce(prev_e + 1, 1) AS b, s - 1 AS f FROM sp
  UNION ALL
  SELECT sp.doc_id, sp.e + 1 AS b, d.n AS f FROM sp JOIN d USING (doc_id)
  WHERE sp.rdesc = 1
), segtext AS (
  SELECT segs.doc_id,
         string_agg(substr(d.text, segs.b::INT, (segs.f - segs.b + 1)::INT),
                    '' ORDER BY segs.b) AS cleaned
  FROM segs JOIN d USING (doc_id) WHERE segs.f >= segs.b
  GROUP BY segs.doc_id
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
  FROM spans GROUP BY doc_id
)
SELECT a.doc_id, a.n_spans, a.removed_chars,
       CAST(d.n - a.removed_chars AS BIGINT) AS cleaned_len,
       md5(coalesce(st.cleaned, '')) AS cleaned_md5
FROM agg a JOIN d USING (doc_id) LEFT JOIN segtext st USING (doc_id)
ORDER BY a.removed_chars DESC, a.doc_id LIMIT 200
""",
    doc="Cross-document ExactSubstr dedup with REAL excision (Lee et "
    "al., 'Deduplicating Training Data Makes Language Models Better' — "
    f"the full cut, not just the plan): every {_XS_L}-char gram that "
    "occurs more than once in the corpus (cross- OR intra-document) "
    "marks its span; per doc, overlapping-or-adjacent spans merge "
    "(island break when pos - prev > L, the union-contiguity rule "
    "dedup_span_excise established), the surviving text segments are "
    "reassembled IN ORDER, and the output pins doc_id, span count, "
    "removed chars, cleaned length, and md5 of the cleaned text — so "
    "the oracle verifies the excision itself, not merely the span "
    "arithmetic.  Exactness: unlike the 60-bit-hash span planner, "
    "duplicate detection here is EXACT string equality — a two-phase "
    "plan (hash-candidate prefilter, then exact-gram verify on the "
    "candidate set) makes the corpus-wide gram comparison "
    "collision-proof while only ever shuffling 8-byte hashes for the "
    "full position stream; the L-char gram strings shuffle ONLY for "
    "positions whose hash collides (the candidate set).  The fixed-L "
    "gram group is semantically equivalent to the suffix-array "
    "formulation's 'suffix pair with LCP >= L' test (a duplicated "
    "substring of length >= L exists at p iff the L-gram at p repeats), "
    "so no global suffix sort is needed — the sequential algorithm's "
    "sort is an implementation artifact Spark replaces with one "
    "hash-partitioned groupBy.  Scale: gram emit is one row per char "
    "(linear); the candidate-hash set broadcasts when under 2M entries "
    "(size-gated, driver-counted) and degrades to an equi-join on the "
    "8-byte hash otherwise; segment reassembly touches only docs that "
    "actually lose a span; top-200 is TakeOrdered.",
    tags=("textops", "llm"),
)
def dedup_exactsubstr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    L = _XS_L
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= L)
        .select("doc_id", "text", F.length("text").alias("n"))
    )
    from cobradb_spark.operators.rank import pin_cache

    dup = _exact_dup_positions(d, L)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup.withColumn("prev", F.lag("pos").over(wdoc))
        .withColumn(
            "new_isl",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > L), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_isl").over(wdoc))
    )
    # pinned: spans (one row per merged island) feed the segment
    # reassembly AND the per-doc aggregate
    spans = pin_cache(
        isl.groupBy("doc_id", "island").agg(
            F.min("pos").alias("s"), (F.max("pos") + (L - 1)).alias("e")
        )
    )
    wsp = Window.partitionBy("doc_id").orderBy("s")
    wspd = Window.partitionBy("doc_id").orderBy(F.col("s").desc())
    sp = spans.select(
        "doc_id",
        "s",
        "e",
        F.lag("e").over(wsp).alias("prev_e"),
        F.row_number().over(wspd).alias("rdesc"),
    )
    segs = sp.select(
        "doc_id", F.coalesce(F.col("prev_e") + 1, F.lit(1)).alias("b"),
        (F.col("s") - 1).alias("f"),
    ).unionByName(
        sp.filter(F.col("rdesc") == 1)
        .join(d.select("doc_id", "n"), "doc_id")
        .select("doc_id", (F.col("e") + 1).alias("b"), F.col("n").alias("f"))
    )
    segtext = (
        segs.filter(F.col("f") >= F.col("b"))
        .join(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", "b", F.expr("substring(text, b, f - b + 1)").alias("seg"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "seg"))),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("cleaned")
        )
    )
    agg = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("removed_chars"),
    )
    return (
        agg.join(d.select("doc_id", "n"), "doc_id")
        .join(segtext, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            "removed_chars",
            (F.col("n") - F.col("removed_chars")).cast("bigint").alias("cleaned_len"),
            F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy(F.col("removed_chars").desc(), "doc_id")
        .limit(200)
    )


# BM25 constants: k1=1.2, b=0.75.  With integer corpus stats
# (L = total tokens, N = docs, dl = doc tokens, tf) the Robertson tf
# saturation term rewrites to the exact integer rational
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#     = 22*tf*L / (10*tf*L + 3*L + 9*dl*N)          [avgdl = L/N]
# so the only float in the whole score is the idf ln(), quantized once
# per matched term to floor(ln(x)*1e6).  Both engines build the ln
# argument from the same integers via IEEE-exact +/÷, so the input
# double is bit-identical; a cross-engine flip would need the two
# libm ln results to straddle a 1e-6 floor boundary (~1e-9 per term).
_BM25_NQ = 5  # query docs: doc_id <= 4 (present at every sf)
_BM25_K = 5   # results per query


@register(
    "text_bm25_topk",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY 1
), corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS l_tot
  FROM dl
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM words
  WHERE doc_id < {_BM25_NQ}
), idf AS (
  SELECT term, CAST(floor(ln(
           (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         + CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_ppm
  FROM df CROSS JOIN corpus
), contrib AS (
  SELECT q.query_id, t.doc_id,
         (i.idf_ppm * ((CAST(22 AS HUGEINT) * t.tf * c.l_tot * 1000000)
                       // (10 * t.tf * c.l_tot + 3 * c.l_tot + 9 * d.dl * c.n_docs)))
           // 1000000 AS contrib_ppm
  FROM qterms q
  JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_id
  JOIN idf i ON i.term = q.term
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN corpus c
), scored AS (
  SELECT query_id, doc_id, CAST(sum(contrib_ppm) AS BIGINT) AS score_ppm
  FROM contrib GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, score_ppm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_ppm DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_ppm
FROM ranked WHERE rank <= {_BM25_K}
""",
    doc="BM25 'more-like-this' retrieval (Robertson-Spärck Jones "
    "Okapi BM25, k1=1.2 b=0.75): each of the first 5 documents acts as "
    "a query (its distinct terms), every other document scores "
    "sum_t idf(t) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)), top-5 docs "
    "per query.  The saturation term is computed as the EXACT integer "
    "rational 22*tf*L/(10*tf*L+3*L+9*dl*N) (avgdl never materialized "
    "as a float), idf quantizes once per term to floor(ln*1e6), and "
    "per-term contributions multiply/sum in BIGINT ppm — the total is "
    "order-independent, so the driver hash is exact.  Differs from "
    "text_tfidf_topk (per-doc keyword extraction, no retrieval) by "
    "being query-against-corpus ranking with length normalization.  "
    "Scale: tf/df/dl are one shuffle each over (doc,term)/(term)/(doc); "
    "the query term set is O(query_count * doc_len) rows and "
    "broadcasts; scoring joins stream the posting lists of only the "
    "query terms (inverted-index access pattern — corpus rows without "
    "matching terms never shuffle); top-5 per query is "
    "WindowGroupLimit, never a global sort.  BIGINT headroom: "
    "22*tf*L*1e6 needs tf*L < 4e11 — at true 100 TB corpus scale "
    "(L~1e13) the ppm scaling drops to 1e3 or the product widens to "
    "DECIMAL(38,0) on both engines.",
    tags=("textops", "llm"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    dl = words.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    corpus = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("l_tot"),
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qterms = (
        words.filter(F.col("doc_id") < _BM25_NQ)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    idf = df.crossJoin(F.broadcast(corpus)).select(
        "term",
        F.floor(
            F.log(
                ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            )
            * 1000000
        )
        .cast("long")
        .alias("idf_ppm"),
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(idf.join(qterms.select("term").distinct(), "term")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "doc_id",
            # r8 overflow audit: 22*tf*l_tot*1e6 crosses 2^63 once the
            # corpus token count passes ~8e9 — widen the saturation
            # numerator (128-bit both engines); the ratio itself is
            # back under 2^63 before idf multiplies in.
            F.expr(
                "CAST(div(idf_ppm * div(CAST(22 AS DECIMAL(38,0)) * tf * l_tot"
                " * 1000000, 10 * tf * l_tot + 3 * l_tot + 9 * dl * n_docs),"
                " 1000000) AS BIGINT)"
            ).alias("contrib_ppm"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_ppm").cast("long").alias("score_ppm")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_ppm").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_K)
        .select("query_id", "rank", "doc_id", "score_ppm")
    )


_PMI_MAX_GAP = 3   # co-occurrence window: pairs (i, i+d), 1 <= d <= 3
_PMI_MIN_C12 = 5   # collocation floor
_PMI_TOP = 200


@register(
    "text_cooccurrence_pmi",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id,
           unnest(str_split(text, ' ')) AS w,
           generate_subscripts(str_split(text, ' '), 1) AS pos
    FROM documents
  )
), pairs AS (
  {" UNION ALL ".join(
    f'''SELECT w AS w1,
        lead(w, {d}) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks'''
    for d in range(1, _PMI_MAX_GAP + 1)
  )}
), pc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM pairs WHERE w2 IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT CAST(sum(c12) AS BIGINT) AS t_pairs FROM pc
), m1 AS (
  SELECT w1 AS w, CAST(sum(c12) AS BIGINT) AS c FROM pc GROUP BY 1
), m2 AS (
  SELECT w2 AS w, CAST(sum(c12) AS BIGINT) AS c FROM pc GROUP BY 1
), scored AS (
  SELECT pc.w1, pc.w2, pc.c12, m1.c AS c1, m2.c AS c2,
         CAST(floor(ln((CAST(pc.c12 AS DOUBLE) * CAST(t.t_pairs AS DOUBLE))
                       / (CAST(m1.c AS DOUBLE) * CAST(m2.c AS DOUBLE)))
                    * 1000000) AS BIGINT)
           AS pmi_ppm
  FROM pc JOIN m1 ON m1.w = pc.w1 JOIN m2 ON m2.w = pc.w2 CROSS JOIN t
  WHERE pc.c12 >= {_PMI_MIN_C12}
)
SELECT w1, w2, c12, c1, c2, pmi_ppm
FROM scored ORDER BY pmi_ppm DESC, w1, w2 LIMIT {_PMI_TOP}
""",
    doc="Collocation extraction by pointwise mutual information (Church-"
    f"Hanks association ratio) over directional skip-window pairs: every "
    f"(token_i, token_j) with 1 <= j-i <= {_PMI_MAX_GAP} inside a "
    "document counts once; PMI = ln(c12*T / (c1*c2)) over the PAIR "
    "distribution (marginals = summed pair counts by left/right slot), "
    f"floor-quantized to ppm, floor c12 >= {_PMI_MIN_C12}, top-"
    f"{_PMI_TOP} by (pmi, pair).  The ln argument is ONE exact-BIGINT "
    "ratio cast through a single correctly-rounded double division, so "
    "the input to ln is bit-identical cross-engine (a flip needs libm "
    "ulp disagreement to straddle a 1e-6 floor boundary).  Scale: pair "
    "generation is JOIN-FREE — one doc_id shuffle, one window sort, "
    f"{_PMI_MAX_GAP} lead() columns in a single Window pass (vs the "
    "naive positions self-join); pair counts and both marginals are "
    "map-side-combinable rollups; marginals are vocab-sized and "
    "broadcast back; top-200 is TakeOrdered.  BIGINT headroom: "
    "c12*T < 9e18 holds to ~1e9-pair corpora per c12=1e0.9 — at 100 TB "
    "quantize T by thousands or widen to DECIMAL(38,0) on both "
    "engines (documented, same discipline as text_bm25_topk).",
    tags=("textops", "llm"),
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        F.col("w").alias("w1"),
        F.array(
            *[F.lead("w", d).over(wdoc) for d in range(1, _PMI_MAX_GAP + 1)]
        ).alias("ws"),
    )
    pairs = leads.select(
        "w1", F.explode("ws").alias("w2")
    ).filter(F.col("w2").isNotNull())
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    t = pc.agg(F.sum("c12").cast("long").alias("t_pairs"))
    m1 = pc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    m2 = pc.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    scored = (
        pc.filter(F.col("c12") >= _PMI_MIN_C12)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            # r8 overflow audit: c12*t_pairs in BIGINT crosses 2^63 on
            # ~8e9-pair corpora — cast each count to double BEFORE the
            # multiply (same tree both engines: the products are exact
            # in double far past 2^63's range, and identical trees keep
            # ln's input bit-identical cross-engine).
            F.floor(
                F.log(
                    (F.col("c12").cast("double") * F.col("t_pairs").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_ppm"),
        )
    )
    return scored.orderBy(F.col("pmi_ppm").desc(), "w1", "w2").limit(_PMI_TOP)


_VOCAB_TOP = 500       # emitted head of the frequency-ranked vocabulary
_VOCAB_COVER_PPM = 950000  # prefix-coverage target: 95%


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH words AS (
  SELECT unnest(str_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY 1
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt
), ranked AS (
  SELECT w, cnt,
         row_number() OVER (ORDER BY cnt DESC, w) AS rank,
         sum(cnt) OVER (ORDER BY cnt DESC, w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cnt
  FROM cnt
)
SELECT CAST(rank AS BIGINT) AS rank, w, cnt,
       CAST(cum_cnt * 1000000 // tot.total AS BIGINT) AS cum_ppm,
       CAST(CASE WHEN (cum_cnt - cnt) * 1000000 < {_VOCAB_COVER_PPM} * tot.total
                 THEN 1 ELSE 0 END AS BIGINT) AS in_cover95
FROM ranked CROSS JOIN tot
WHERE rank <= {_VOCAB_TOP}
""",
    doc="Tokenizer vocabulary build with coverage accounting (the "
    "word-level analogue of a BPE/unigram vocab-size sweep): corpus "
    "word counts ranked by (freq DESC, word), cumulative corpus "
    f"coverage in exact ppm, and a flag marking the minimal prefix "
    f"that reaches {_VOCAB_COVER_PPM / 10000:.0f}% coverage (a word is "
    "in the prefix iff coverage BEFORE it is still below target — "
    "exact integer cross-multiplication, no division in the "
    f"predicate).  Emits the top-{_VOCAB_TOP} head.  CORRECTNESS_r07 "
    "root cause: the oracle's windowed cum_cnt is HUGEINT in DuckDB, "
    "so cum_ppm surfaced as float64 in pandas while Spark emitted "
    "int64 — values identical, driver dtype-hash not; cum_ppm is now "
    "CAST AS BIGINT oracle-side.  Scale: the count "
    "is one map-side-combinable (word) rollup; the rank and running "
    "coverage over the FULL vocabulary run through the distributed "
    "prefix-sum machinery (operators/rank.py prefix_sums — one "
    "range-partition shuffle, per-partition offsets via a K-row driver "
    "collect), NOT a single-partition ORDER BY window: r8 review "
    "flagged that the earlier 'vocab is dimension-scale (~1e5-1e6)' "
    "defense is false for raw web corpora, where whitespace-token "
    "vocabularies reach 1e8-1e9 at 100 TB.  Ranking is prefix-count of "
    "a literal 1 in the same shuffle, so rank + cumulative cost ONE "
    "pass, and the corpus-size total is the same pass's cnt total.",
    tags=("textops", "llm"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    cnt = words.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    pre = prefix_sums(
        cnt.withColumn("one", F.lit(1).cast("long")),
        [],
        [F.col("cnt").desc(), F.col("w")],
        ["one", "cnt"],
    )
    # the corpus-size total is the cnt total — not a second word rollup
    # over the documents scan
    ranked = pre.select(
        "w",
        "cnt",
        (F.col("one_before") + 1).alias("rank"),
        (F.col("cnt_before") + F.col("cnt")).alias("cum_cnt"),
        F.col("cnt_total").alias("total"),
    ).filter(F.col("rank") <= _VOCAB_TOP)
    # widening rule (r8 overflow audit): cum_cnt*1e6 wraps BIGINT at
    # ~9e12 corpus words, so the products — the coverage threshold
    # 950000*total too — run in DECIMAL(38,0).  Oracle side is HUGEINT
    # already.
    return ranked.select(
        "rank",
        "w",
        "cnt",
        F.expr(
            "CAST(div(CAST(cum_cnt AS DECIMAL(38,0)) * 1000000,"
            " CAST(total AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("cum_ppm"),
        F.expr(
            "CAST(CASE WHEN CAST(cum_cnt - cnt AS DECIMAL(38,0)) * 1000000"
            f" < CAST(total AS DECIMAL(38,0)) * {_VOCAB_COVER_PPM}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("in_cover95"),
    )


# Dictionary for the Aho-Corasick matcher.  Every pattern is BORDER-FREE
# (no proper prefix equals a suffix), which makes same-pattern overlap
# impossible, so the oracle's non-overlapping replace-count provably
# equals the automaton's all-matches count on ANY text (an overlap of
# shift d < len would force a border of length len-d).  Asserted in
# tests/test_textops.py.
_AC_PATTERNS = (
    "table", "value", "merge", "batch", "spark", "sort", "scan",
    "agg", "fast", "slow", "key", "row", "line", "part",
)

_AC_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{p}' AS pattern,
       CAST(count(*) FILTER (WHERE (length(text) - length(replace(text, '{p}', '')))
            // {len(p)} > 0) AS BIGINT) AS n_docs,
       CAST(sum((length(text) - length(replace(text, '{p}', ''))) // {len(p)})
            AS BIGINT) AS n_occurrences
FROM documents"""
    for p in _AC_PATTERNS
)


@register(
    "text_dictionary_match",
    oracle=_AC_ORACLE,
    doc="Multi-pattern dictionary matching with a REAL Aho-Corasick "
    "automaton (operators/ahocorasick.py — goto trie, BFS failure "
    "links, merged output sets, the published 1975 construction; "
    "brute-force-validated against regex lookahead in tests): one pass "
    "per document counts occurrences of all 14 lexicon words "
    "simultaneously in O(text + matches), the shape PII-lexicon / "
    "blocklist screening needs at 100 TB where per-pattern scanning "
    "would cost O(text * patterns).  The automaton is driver-built "
    "(dictionaries are tiny), ships in the task closure, and scans "
    "Arrow batches executor-side; per-doc counts partial-aggregate to "
    "14 (pattern, doc-frequency, total-occurrence) rows.  Oracle "
    "parity is PROVABLE, not approximate: every pattern is border-free, "
    "so same-pattern overlaps are impossible and DuckDB's "
    "non-overlapping replace-count equals the automaton's all-matches "
    "count on any input.",
    tags=("text",),
)
def text_dictionary_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cobradb_spark.operators.ahocorasick import AhoCorasick

    pats = list(_AC_PATTERNS)
    ac = AhoCorasick(pats)

    def scan(batches):
        for pdf in batches:
            agg = {p: [0, 0] for p in pats}  # n_docs, n_occurrences
            for text in pdf["text"]:
                counts = ac.count_matches(text)
                for p, c in zip(pats, counts):
                    if c:
                        agg[p][0] += 1
                        agg[p][1] += c
            yield pd.DataFrame(
                {
                    "pattern": pats,
                    "n_docs": [agg[p][0] for p in pats],
                    "n_occurrences": [agg[p][1] for p in pats],
                }
            )

    per_part = load_table(spark, sf_dir, "documents").select("text").mapInPandas(
        scan, schema="pattern string, n_docs long, n_occurrences long"
    )
    return per_part.groupBy("pattern").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_occurrences").cast("bigint").alias("n_occurrences"),
    )


_UNI_VARIANTS_SQL = """CASE doc_id % 4
  WHEN 0 THEN 'caf' || chr(101) || chr(769)
  WHEN 1 THEN chr(65) || chr(778) || 'mas'
  WHEN 2 THEN chr(117) || chr(776) || 'ber'
  ELSE 'plain' END"""


@register(
    "text_unicode_canonicalize",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
           || ' ' || {_UNI_VARIANTS_SQL} AS s
  FROM documents),
n AS (SELECT doc_id, s, nfc_normalize(s) AS c FROM base)
SELECT doc_id, CAST(length(s) AS BIGINT) AS chars_before,
       CAST(length(c) AS BIGINT) AS chars_after,
       s <> c AS changed, md5(c) AS canon_md5
FROM n
""",
    doc="Unicode NFC canonicalization — the dedup-hygiene pass a "
    "multilingual corpus needs before ANY hash-based dedup: visually "
    "identical strings with decomposed combining sequences (e+U+0301 vs "
    "é) hash differently and silently split duplicate classes.  The "
    "fixture injects decomposed sequences (combining acute/ring/"
    "diaeresis) into a per-doc prefix; Spark normalizes via "
    "unicodedata.normalize('NFC') in an Arrow mapInPandas stage "
    "(deterministic, stdlib — no ICU dependency) and re-hashes "
    "JVM-side; DuckDB replays with its native nfc_normalize, so the "
    "hash-EXACT match certifies the two independent NFC "
    "implementations agree on every fixture row (both implement "
    "UAX #15).  Character counts before/after expose exactly which "
    "rows composed.  Scale posture: pure narrow map, zero shuffles; "
    "the changed flag lets the 100-TB pipeline route only affected "
    "documents to re-hashing.",
    tags=("text",),
)
def text_unicode_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # DECOMPOSED sequences as explicit escapes (an editor that
    # NFC-normalizes source text must not be able to silently
    # compose the fixture): e+U+0301, A+U+030A, u+U+0308.
    variants = {
        0: "caf" + "e\u0301",
        1: "A\u030Amas",
        2: "u\u0308ber",
        3: "plain",
    }

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.array_join(F.slice(F.split("text", " "), 1, 3), " "),
            F.lit(" "),
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in variants.items() for x in kv]
                ),
                (F.col("doc_id") % 4).cast("int"),
            ),
        ).alias("s"),
    )

    def norm(batches):
        import unicodedata

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "s": pdf["s"],
                    "c": [unicodedata.normalize("NFC", s) for s in pdf["s"]],
                }
            )

    out = d.mapInPandas(norm, schema="doc_id long, s string, c string")
    return out.select(
        "doc_id",
        F.length("s").cast("bigint").alias("chars_before"),
        F.length("c").cast("bigint").alias("chars_after"),
        (F.col("s") != F.col("c")).alias("changed"),
        F.md5(F.encode("c", "UTF-8")).alias("canon_md5"),
    )


_BPE_TRAIN_ROUNDS = 8


def _bpe_train_oracle() -> str:
    """Unrolled iterative BPE training rounds: each round counts
    adjacent token pairs over the CURRENT tokenization (overlapping
    occurrences included — the standard zip(word, word[1:]) count),
    picks the most frequent pair (ties by pair string), and merges it
    non-overlapping left-to-right via string replace over the
    space-delimited token string (replace() scans past each
    replacement, which IS the greedy BPE merge — the text_bpe_apply
    oracle's trick).  MATERIALIZED is load-bearing: v_i and b_i are
    each referenced twice downstream."""
    parts = []
    for i in range(1, _BPE_TRAIN_ROUNDS + 1):
        p = f"v{i - 1}"
        parts.append(
            f"""
p{i} AS (
  SELECT t[j] || ' ' || t[j + 1] AS pair, freq
  FROM (SELECT str_split(trim(s), ' ') AS t, freq FROM {p}),
       UNNEST(range(1, len(t))) AS u(j)
),
b{i} AS MATERIALIZED (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
  FROM p{i} GROUP BY pair ORDER BY n DESC, pair LIMIT 1
),
v{i} AS MATERIALIZED (
  SELECT word, freq,
         replace(s, ' ' || b.pair || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS s
  FROM {p}, b{i} b
)"""
        )
    return ",".join(parts)


@register(
    "text_bpe_train",
    oracle=f"""
WITH wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2 GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, freq,
         ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS s
  FROM wf
),
{_bpe_train_oracle()}
SELECT * FROM (
  {" UNION ALL ".join(f"SELECT CAST({i} AS BIGINT) AS rank, pair, n FROM b{i}" for i in range(1, _BPE_TRAIN_ROUNDS + 1))}
) ORDER BY rank
""",
    doc=f"TRUE iterative BPE training (Sennrich et al. 2016), "
    f"{_BPE_TRAIN_ROUNDS} merge rounds: unlike text_bpe_apply's merge "
    "table (the top pairs of the INITIAL count — a one-shot "
    "approximation), each round here re-counts adjacent token pairs "
    "over the CURRENT tokenization, selects the most frequent pair "
    "(ties by pair string), and merges it into every word before the "
    "next count — so merge k sees the vocabulary merge k-1 produced, "
    "the property that makes BPE BPE.  Output: the ordered merge "
    "table (rank, pair, selection-time count).  Pair occurrences are "
    "counted overlapping (zip(tokens, tokens[1:]), the reference "
    "implementation's count) while the merge itself is greedy "
    "non-overlapping left-to-right — expressed in Spark as an exact "
    "array fold (F.aggregate: the merged token can never re-match its "
    "own left constituent, so the fold IS the standard merge) and in "
    "the oracle as string replace over the space-delimited token "
    "string.  Scale: the corpus-scale stage is ONE distinct-word "
    "count (facts touched once); every training round is O(|vocab|) "
    "— pair counts partial-aggregate map-side, the 1-row argmax is a "
    "bounded driver pull, the merge is a narrow map over the pinned "
    "vocab (localCheckpoint per round, the iterative-lineage "
    "discipline).  On a 1e6-word real vocabulary each round is a "
    "sub-second distributed pass; nothing rescans the corpus.",
    tags=("textops", "llm"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    vocab = wf.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("toks"),
    ).localCheckpoint()
    ranks = []
    for rank in range(1, _BPE_TRAIN_ROUNDS + 1):
        pair_col = F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        )
        best = (
            vocab.select(F.explode(pair_col).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()[0]
        )  # bounded driver pull: exactly one row per training round
        left, right = best["pair"].split(" ")
        merged = left + right
        ranks.append((rank, best["pair"], best["n"]))
        new_toks = F.aggregate(
            F.col("toks"),
            F.array().cast("array<string>"),
            lambda acc, t: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (t == F.lit(right)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(t))),
        )
        vocab = vocab.select("word", "freq", new_toks.alias("toks")).localCheckpoint()
    return spark.createDataFrame(
        ranks, schema="rank long, pair string, n long"
    ).orderBy("rank")


@register(
    "text_kneser_ney_bigram",
    oracle="""
WITH w AS (
  SELECT str_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, greatest(len(ws), 1))) AS t(i)
  WHERE len(ws) >= 2
), lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
), fw AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fw
  FROM lm GROUP BY w1
), bw AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM lm GROUP BY w2
), tt AS (
  SELECT CAST(count(*) AS BIGINT) AS t FROM lm
), top AS (
  SELECT w1, w2, c12 FROM lm ORDER BY c12 DESC, w1, w2 LIMIT 200
)
SELECT top.w1, top.w2, top.c12,
       CAST((CAST(4 * top.c12 - 3 AS HUGEINT) * tt.t
             + 3 * CAST(fw.n1fw AS HUGEINT) * bw.n1bw) * 1000000000
            // (CAST(4 AS HUGEINT) * fw.c1 * tt.t) AS BIGINT) AS p_kn_ppb
FROM top JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN tt
""",
    doc="Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995; "
    "Chen & Goodman's interpolated form with absolute discount D = 3/4): "
    "p(w2|w1) = (c12 - D)/c1 + D*N1+(w1,.)/c1 * N1+(.,w2)/T, where the "
    "continuation weight counts DISTINCT contexts — the property that "
    "makes KN the reference n-gram smoother ('francisco' is frequent but "
    "follows only 'san', so its continuation mass is tiny). Scored for "
    "the corpus's top-200 bigrams (deterministic (count, w1, w2) order). "
    "Exactness: D = 3/4 makes every term rational with denominator "
    "4*c1*T, so the score is the exact 128-bit integer "
    "floor(((4*c12-3)*T + 3*N1fw*N1bw) * 1e9 / (4*c1*T)) — "
    "DECIMAL(38,0) on Spark, HUGEINT in DuckDB, truncation identical on "
    "positives, no float anywhere (observed bigrams have c12 >= 1, so "
    "the discount max(c12-D, 0) never clips). Scale: ONE (w1,w2) "
    "shuffle builds the LM table; the forward/backward/total stats are "
    "aggregates OVER the collapsed table (|bigram vocab|, not corpus "
    "tokens); the 200-row top side broadcasts into the stat joins.",
    tags=("textops", "llm"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.split("text", " ").alias("ws")).filter(F.size("ws") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.struct(
            F.element_at("ws", i).alias("w1"),
            F.element_at("ws", i + F.lit(1)).alias("w2"),
        ),
    )
    bg = w.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    lm = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    fw = lm.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1fw"),
    )
    bw = lm.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1bw"))
    tt = lm.agg(F.count("*").cast("bigint").alias("t"))
    top = lm.orderBy(F.col("c12").desc(), "w1", "w2").limit(200)
    j = (
        F.broadcast(top)
        .join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tt))
    )
    num = (
        (4 * F.col("c12") - 3).cast("decimal(38,0)") * F.col("t")
        + F.lit(3).cast("decimal(38,0)") * F.col("n1fw") * F.col("n1bw")
    ) * F.lit(1000000000)
    den = F.lit(4).cast("decimal(38,0)") * F.col("c1") * F.col("t")
    # div(), not decimal `/`: Spark decimal division HALF_UP-rounds at the
    # derived result scale before any floor(), which can disagree with the
    # oracle's pure truncating `//` by one ulp; div() truncates like `//`.
    return j.withColumn("_num", num).withColumn("_den", den).select(
        "w1",
        "w2",
        "c12",
        F.expr("CAST(div(_num, _den) AS BIGINT)").alias("p_kn_ppb"),
    )


@register(
    "text_source_distinctive_terms",
    oracle="""
WITH tok AS (
  SELECT source, unnest(str_split(text, ' ')) AS term FROM documents
), st AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
  FROM tok WHERE length(term) >= 3 GROUP BY source, term
), s AS (
  SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source
), t AS (
  SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term
), n AS (
  SELECT CAST(sum(c_st) AS BIGINT) AS n_tot FROM st
), lift AS (
  SELECT st.source, st.term, st.c_st,
         CAST(CAST(st.c_st AS HUGEINT) * n.n_tot * 1000000
              // (CAST(s.n_s AS HUGEINT) * t.c_t) AS BIGINT) AS lift_ppm
  FROM st JOIN s USING (source) JOIN t USING (term) CROSS JOIN n
  WHERE st.c_st >= 20
), rnk AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY lift_ppm DESC, term) AS rn
  FROM lift
)
SELECT source, term, c_st, lift_ppm, CAST(rn AS BIGINT) AS rn
FROM rnk WHERE rn <= 10
""",
    doc="Distinctive terms per corpus source by exact frequency lift: "
    "lift(term, source) = p(term|source) / p(term), cross-multiplied to "
    "the 128-bit integer floor(c_st * N * 1e6 / (n_s * c_t)) so the "
    "score and the (lift, term) ranking are engine-identical with no "
    "float division — the corpus-slice profiler a data-mixing pipeline "
    "runs to see what vocabulary a source actually contributes (the "
    "global-baseline complement of text_tfidf_topk's per-doc weights). "
    "Terms under 20 source occurrences are noise-gated; top-10 per "
    "source. Scale: ONE (source, term) shuffle collapses the corpus; "
    "source totals are a tiny broadcast; the term-baseline join is "
    "keyed on the collapsed vocab table, never raw tokens; the "
    "per-source top-10 is a WindowGroupLimit over the collapsed table.",
    tags=("textops", "llm"),
)
def text_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") >= 3)
    st = tok.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("c_st")
    )
    s = st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    t = st.groupBy("term").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    n = st.agg(F.sum("c_st").cast("bigint").alias("n_tot"))
    j = (
        st.filter(F.col("c_st") >= 20)
        .join(F.broadcast(s), "source")
        .join(t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_num",
            F.col("c_st").cast("decimal(38,0)") * F.col("n_tot") * F.lit(1000000),
        )
        .withColumn(
            "_den", F.col("n_s").cast("decimal(38,0)") * F.col("c_t")
        )
        .withColumn("lift_ppm", F.expr("CAST(div(_num, _den) AS BIGINT)"))
    )
    w = Window.partitionBy("source").orderBy(F.col("lift_ppm").desc(), "term")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("source", "term", "c_st", "lift_ppm", F.col("rn").cast("bigint").alias("rn"))
    )


@register(
    "text_ngram_novelty_rate",
    oracle="""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               || ' ' || ws[i+4] AS gram
  FROM w, UNNEST(range(1, greatest(len(ws) - 3, 1))) AS t(i)
  WHERE len(ws) >= 5
), first_seen AS (
  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
         AS n_novel,
       CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM g JOIN first_seen f USING (gram)
GROUP BY g.doc_id
""",
    doc="Corpus novelty rate per document: the fraction of a doc's "
    "DISTINCT word 5-grams that appear for the FIRST time in the corpus "
    "(first = minimum doc_id, the ingestion-order convention) — the "
    "marginal-new-content curve a crawl pipeline watches to decide when "
    "a source is exhausted (novelty collapsing toward 0 means the "
    "source is re-serving known text; the streaming sibling of the "
    "ExactSubstr/dedup family's batch view). Exact integer ppm via "
    "truncating division. Scale: ONE (gram) shuffle computes global "
    "first-occurrence over the distinct (doc, gram) collapse, the "
    "join-back is keyed on the same gram partitioning, and the per-doc "
    "rollup is partial+final — no window, no self-join; at 100 TB the "
    "gram table is the cost and it is exactly the inverted-index "
    "shuffle every dedup op here already pays.",
    tags=("textops", "llm"),
)
def text_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 5
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 4),
        lambda i: F.concat_ws(
            " ",
            F.element_at("ws", i),
            F.element_at("ws", i + F.lit(1)),
            F.element_at("ws", i + F.lit(2)),
            F.element_at("ws", i + F.lit(3)),
            F.element_at("ws", i + F.lit(4)),
        ),
    )
    g = (
        w.select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = g.join(first_seen, "gram")
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.count_if(F.col("first_doc") == F.col("doc_id"))
        .cast("bigint")
        .alias("n_novel"),
        F.expr(
            "CAST(div(count_if(first_doc = doc_id) * 1000000, count(*)) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


_KEEP_DOCS_SQL = """
  SELECT doc_id, text FROM documents WHERE n_chars >= 80
  UNION ALL
  SELECT doc_id + 1000000, text || ' v2 rev' FROM documents
  WHERE n_chars >= 80 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'draft copy ' || text FROM documents
  WHERE n_chars >= 80 AND doc_id % 3 = 0
"""


@register(
    "dedup_near_cluster_keep_best",
    oracle=f"""
WITH RECURSIVE docs AS ({_KEEP_DOCS_SQL}),
sh0 AS (
  SELECT DISTINCT doc_id, unnest({_TRI_SQL}) AS shingle
  FROM docs
), sh AS (
  SELECT sh0.* FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 64) ok
    USING (shingle)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS both
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), near AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 2 * i.both >= sa.n + sb.n - i.both
), ed AS (
  SELECT doc_a AS src, doc_b AS dst FROM near
  UNION ALL SELECT doc_b, doc_a FROM near
), reach(src, node) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN ed e ON e.src = r.node
), comp AS (
  SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
  FROM reach GROUP BY src
), ranked AS (
  SELECT c.doc_id, c.cluster_id, length(d.text) AS len,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(d.text) DESC, c.doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
           AS cluster_size
  FROM comp c JOIN docs d USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, (rn = 1) AS is_keeper
FROM ranked
""",
    doc="The COMPLETE near-dup pipeline in one operator — block, verify, "
    "cluster, select (what etl_llm_corpus_pipeline does for EXACT dups, "
    "done here for NEAR dups): the corpus (documents plus two mutated "
    "generations, so true clusters exist) is blocked by shared word "
    "bigrams (inverted-index posting join, never all-pairs), candidate "
    "pairs VERIFY with exact set Jaccard >= 0.5 (cross-multiplied to "
    "the integer predicate 2*|A∩B| >= |A∪B| — no float threshold), "
    "verified pairs transitively merge via the hash-min operator shared by "
    "the four clustering keys (operators/fixpoint.components), and each "
    "cluster keeps its BEST member "
    "(longest text, tie on doc_id) — the survivorship rule a real "
    "pretraining dedup applies. Blocking uses word TRIgrams with a "
    "df<=64 stop-shingle cap (capped-Jaccard contract, identical both "
    "engines) so hot shingles cannot impose df^2 join cost. Every doc "
    "emits (cluster, size, "
    "keep/drop), so the decision table is value-hashed end to end "
    "against the recursive-CTE replay. Scale: posting join cost "
    "follows shared shingles; CC shuffles only the verified-pair "
    "list per round; keeper selection is one WindowGroupLimit-shaped "
    "pass per cluster.",
    tags=("textops", "llm"),
)
def dedup_near_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.fixpoint import components

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 80)
        .select("doc_id", "text")
    )
    docs = fan_out(
        base.unionByName(
            base.filter(F.col("doc_id") % 2 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat("text", F.lit(" v2 rev")).alias("text"),
            )
        ).unionByName(
            base.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.lit("draft copy "), "text").alias("text"),
            )
        ),
        # the 3-branch union arrives in as many partitions as the scans
        # (single-row-group files -> ~3), and everything downstream of
        # the checkpoint — split + trigram shingling + explode — would
        # run at that width; spread the narrow (id, text) rows first
        # (guide §2.5 input skew; r14 A/B: 8.5 -> 7.7 s median)
        "doc_id",
    ).localCheckpoint()
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    trigrams = word_ngrams("w", 3)
    # NOTE r15, probed and REJECTED: persisting this shingle stream
    # around the df-cap join (it feeds both the df aggregate and the
    # join probe side, so the split+ngrams+explode pass executes twice)
    # measured 1.62-2.19 -> 0.91-1.18 s warm on the sh build in
    # isolation, but FLAT end-to-end across 6 interleaved fresh-JVM
    # pairs (head median ~5.1-5.4 s vs ref ~5.3 s: the cache write
    # offsets the recompute in a cold run) — and the cached rows carry
    # the 3-word shingle STRINGS, the same wide-payload cache the r14
    # exactsubstr probe measured as a net LOSS (6.4-8.9 -> 9.3-10.2 s).
    # The double pass stays; it is the cheaper end-to-end shape.
    sh0 = w.select("doc_id", F.explode(F.array_distinct(trigrams)).alias("shingle"))
    # stop-shingle df cap: shingles shared by > 64 docs carry no dedup
    # signal but dominate the posting join's df^2 cost — drop them from
    # BOTH sides of the contract (capped-Jaccard semantics, mirrored in
    # the oracle), the documented scale posture of the ngram family.
    ok = sh0.groupBy("shingle").agg(F.count("*").alias("df")).filter(
        F.col("df") <= 64
    ).select("shingle")
    sh = sh0.join(ok, "shingle").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("both"))
    )
    near = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        # integer Jaccard >= 1/2: 2|A∩B| >= |A∪B|
        .filter(2 * F.col("both") >= F.col("na") + F.col("nb") - F.col("both"))
        .select("doc_a", "doc_b")
    )
    ed = near.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        near.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    # mutation-family diameter is 2; the round cap is generous
    labels = components(
        ed, docs.select("doc_id"), max_rounds=12, name="dedup_near_cluster_keep_best"
    ).select(F.col("n").alias("doc_id"), F.col("comp").alias("cluster_id"))
    wk = Window.partitionBy("cluster_id").orderBy(
        F.length("text").desc(), "doc_id"
    )
    wc = Window.partitionBy("cluster_id")
    ranked = (
        labels.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(wk))
        .withColumn("cluster_size", F.count("*").over(wc).cast("bigint"))
    )
    return ranked.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("rn") == 1).alias("is_keeper"),
    )


@register(
    "text_ocr_noise_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, tok,
         (length(tok) = 1) AS is_single,
         (tok <> translate(tok, '0123456789', '')
          AND lower(tok) <> translate(lower(tok),
                                      'abcdefghijklmnopqrstuvwxyz', ''))
           AS is_mixed
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
), g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(*) FILTER (WHERE is_single) AS BIGINT) AS n_single,
         CAST(count(*) FILTER (WHERE is_mixed) AS BIGINT) AS n_mixed
  FROM tok GROUP BY doc_id
), h AS (
  SELECT d.doc_id,
         CAST((length(d.text) - length(replace(d.text, '- ', ''))) // 2
              AS BIGINT) AS n_hyphen_breaks
  FROM documents d
)
SELECT g.doc_id, g.n_tokens, g.n_single, g.n_mixed, h.n_hyphen_breaks,
       CAST((2 * g.n_mixed + g.n_single + 3 * h.n_hyphen_breaks) * 1000000
            // g.n_tokens AS BIGINT) AS noise_ppm,
       ((2 * g.n_mixed + g.n_single + 3 * h.n_hyphen_breaks) * 1000000
        // g.n_tokens) > 100000 AS is_noisy
FROM g JOIN h USING (doc_id)
""",
    doc="OCR/extraction-noise scoring — the corpus-hygiene signal "
    "complementing text_quality_score's generic heuristics with the "
    "three classic digitization artifacts: single-character token "
    "fallout (broken words), digit-letter mixed tokens ('th3', 'l1ke' "
    "— confusable-glyph substitutions), and hyphen-space line-break "
    "residue ('exam- ple'). Deliberately regex-free: every signal is "
    "translate()/replace()/length() arithmetic, whose semantics are "
    "byte-identical across engines (regex dialects are not), so the "
    "weighted noise score (integer ppm, truncating division) and the "
    "gate boolean value-hash exactly. Scale: one narrow token pass + "
    "a per-doc rollup; the hyphen counter never tokenizes at all.",
    tags=("textops", "llm"),
)
def text_ocr_noise_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    is_single = F.length("tok") == 1
    has_digit = F.col("tok") != F.translate("tok", "0123456789", "")
    has_alpha = F.lower(F.col("tok")) != F.translate(
        F.lower(F.col("tok")), "abcdefghijklmnopqrstuvwxyz", ""
    )
    g = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count_if(is_single).cast("bigint").alias("n_single"),
        F.count_if(has_digit & has_alpha).cast("bigint").alias("n_mixed"),
    )
    h = d.select(
        "doc_id",
        ((F.length("text") - F.length(F.replace(F.col("text"), F.lit("- "), F.lit(""))))
         / 2).cast("bigint").alias("n_hyphen_breaks"),
    )
    j = g.join(h, "doc_id").withColumn(
        "_num",
        (2 * F.col("n_mixed") + F.col("n_single") + 3 * F.col("n_hyphen_breaks"))
        * 1000000,
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "n_single",
        "n_mixed",
        "n_hyphen_breaks",
        F.expr("CAST(div(_num, n_tokens) AS BIGINT)").alias("noise_ppm"),
        (F.expr("div(_num, n_tokens)") > 100000).alias("is_noisy"),
    )


@register(
    "mlprep_confusion_matrix",
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang,
         {_hits_duck(_EN)} AS en_hits,
         {_hits_duck(_DE)} AS de_hits,
         {_hits_duck(_ES)} AS es_hits
  FROM documents
), pred AS (
  SELECT lang AS actual,
         CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0
                   THEN 'en'
              WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
              WHEN es_hits > 0 THEN 'es'
              ELSE 'und' END AS predicted
  FROM scores
), cell AS (
  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY actual, predicted
), marg AS (
  SELECT c.actual, c.predicted, c.n,
         CAST(sum(c.n) OVER (PARTITION BY c.actual) AS BIGINT) AS n_actual,
         CAST(sum(c.n) OVER (PARTITION BY c.predicted) AS BIGINT) AS n_pred
  FROM cell c
)
SELECT actual, predicted, n, n_actual, n_pred,
       CASE WHEN actual = predicted
            THEN CAST(n * 1000000 // n_pred AS BIGINT) END AS precision_ppm,
       CASE WHEN actual = predicted
            THEN CAST(n * 1000000 // n_actual AS BIGINT) END AS recall_ppm
FROM marg
""",
    doc="Classifier confusion matrix with exact per-class precision/"
    "recall — the evaluation harness every in-pipeline classifier "
    "needs, instantiated on text_lang_id's stopword language detector "
    "vs the corpus's ground-truth lang labels: one row per (actual, "
    "predicted) cell with the cell count, row/column marginals, and "
    "(on the diagonal) precision = n/col_total and recall = "
    "n/row_total as truncated integer ppm — no float ratios, "
    "engine-identical. Scale: predictions are a narrow codegen map "
    "(the lexicon argmax), the matrix is a |classes|^2 rollup, and "
    "the marginals are windows over that tiny grid.",
    tags=("mlprep", "textops"),
)
def mlprep_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.registry import get_query

    pred = (
        get_query("text_lang_id")
        .fn(spark, sf_dir)
        .select(F.col("lang").alias("actual"), F.col("lang_pred").alias("predicted"))
    )
    cell = pred.groupBy("actual", "predicted").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wa = Window.partitionBy("actual")
    wp = Window.partitionBy("predicted")
    marg = cell.select(
        "actual",
        "predicted",
        "n",
        F.sum("n").over(wa).cast("bigint").alias("n_actual"),
        F.sum("n").over(wp).cast("bigint").alias("n_pred"),
    )
    diag = F.col("actual") == F.col("predicted")
    return marg.select(
        "actual",
        "predicted",
        "n",
        "n_actual",
        "n_pred",
        F.when(diag, F.expr("CAST(div(n * 1000000, n_pred) AS BIGINT)")).alias(
            "precision_ppm"
        ),
        F.when(diag, F.expr("CAST(div(n * 1000000, n_actual) AS BIGINT)")).alias(
            "recall_ppm"
        ),
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH words AS (
  SELECT unnest(str_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY 1
), rk AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
  FROM cnt
), pts AS (
  SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM rk
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT n AS n_vocab,
       CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
            // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
         AS zipf_slope_micro,
       CAST(sx // n AS BIGINT) AS x_bar_micro,
       CAST(sy // n AS BIGINT) AS y_bar_micro
FROM m
""",
    doc="Zipf's-law fit over the corpus rank-frequency curve: OLS slope "
    "of ln(freq) on ln(rank) over the FULL vocabulary — the corpus "
    "health readout (natural text fits slope ~ -1; template spam, "
    "boilerplate floods, or truncated vocabularies bend it) that "
    "complements text_vocab_coverage's head-coverage view with a "
    "whole-distribution shape test.  Exactness: each grid point "
    "quantizes ln(rank)/ln(freq) to floor-micro FIRST (exact integer "
    "input through one correctly-rounded libm call and one floor — "
    "the PMI discipline), so the moment sums are 128-bit integer and "
    "the slope is one truncating rational; engines divide negatives "
    "identically (both truncate toward zero — verified r8).  Scale "
    "posture: only the word rollup touches corpus rows (map-side "
    "combine); the rank over the vocabulary is the DISTRIBUTED global "
    "rank (operators/rank.py, no single-partition window) and the "
    "moments are a 1-row rollup of the vocab grid.",
    tags=("textops", "llm"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank

    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    cnt = words.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    rk = global_rank(cnt, [F.col("c").desc(), F.col("w")], rank_col="r")
    pts = rk.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1000000)
        .cast("bigint")
        .alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
    )
    return m.select(
        F.col("n").alias("n_vocab"),
        F.expr(
            "CAST(div((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000,"
            " n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("zipf_slope_micro"),
        F.expr("CAST(div(sx, n) AS BIGINT)").alias("x_bar_micro"),
        F.expr("CAST(div(sy, n) AS BIGINT)").alias("y_bar_micro"),
    )


@register(
    "text_burstiness_dispersion",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
), per_doc AS (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE length(w) >= 3 GROUP BY w, doc_id
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok
), per_term AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS freq,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM per_doc GROUP BY w HAVING sum(c) >= 20
), scored AS (
  SELECT w, freq, df,
         CAST((CAST(n.n_docs AS HUGEINT) * sum_sq - CAST(freq AS HUGEINT) * freq)
              * 1000000
              // (CAST(freq AS HUGEINT) * (n.n_docs - 1)) AS BIGINT)
           AS dispersion_ppm
  FROM per_term CROSS JOIN n
), rk AS (
  SELECT *, row_number() OVER (ORDER BY dispersion_ppm DESC, w) AS rn
  FROM scored
)
SELECT w, freq, df, dispersion_ppm, CAST(rn AS BIGINT) AS rn
FROM rk WHERE rn <= 30
""",
    doc="Term burstiness by the index of dispersion (variance-to-mean "
    "ratio over per-document counts, zeros included): D = "
    "(n*sum(c^2) - freq^2) / (freq*(n-1)) in exact floor-ppm — D ~ 1e6 "
    "is Poisson scatter (function words), D >> 1e6 marks bursty, "
    "topic-concentrated terms (Church & Gale's burstiness; the "
    "corpus-profiling complement to text_source_distinctive_terms' "
    "between-source lift and text_zipf_fit's global shape).  "
    "Exactness: zero-count documents enter through the algebraic "
    "identity (only sum and sum-of-squares over PRESENT rows are "
    "needed once n is known), products widen to 128-bit (freq^2 can "
    "pass 2^63 on corpus-scale function words), truncating division, "
    "deterministic (D DESC, term) top-30.  Scale posture: one "
    "(term, doc) rollup then one term rollup, both map-side "
    "combinable; the doc count is a 1-row broadcast; top-30 is "
    "TakeOrdered — facts touched once.",
    tags=("textops", "llm"),
)
def text_burstiness_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    per_doc = (
        tok.filter(F.length("w") >= 3)
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n = tok.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    per_term = (
        per_doc.groupBy("w")
        .agg(
            F.sum("c").cast("bigint").alias("freq"),
            F.count("*").cast("bigint").alias("df"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        )
        .filter(F.col("freq") >= 20)
    )
    scored = per_term.crossJoin(F.broadcast(n)).select(
        "w",
        "freq",
        "df",
        F.expr(
            "CAST(div((CAST(n_docs AS DECIMAL(38,0)) * sum_sq"
            " - CAST(freq AS DECIMAL(38,0)) * freq) * 1000000,"
            " CAST(freq AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)"
        ).alias("dispersion_ppm"),
    )
    # top-30 via orderBy+limit => TakeOrderedAndProject STRUCTURALLY
    # (per-partition heaps, no global sort); the rank window then only
    # numbers the 30 survivor rows (profile_skew_keys idiom).  r8 review:
    # the earlier unpartitioned-window+filter form produced the same
    # plan, but only through the InferWindowGroupLimit rewrite — an
    # optimizer behavior the code didn't state.
    w = Window.orderBy(F.col("dispersion_ppm").desc(), "w")
    return (
        scored.orderBy(F.col("dispersion_ppm").desc(), "w")
        .limit(30)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select("w", "freq", "df", "dispersion_ppm", "rn")
    )


_BPE_FERTILITY_ORACLE = """
WITH RECURSIVE
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
),
pc AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT unnest(list_transform(range(1, length(word)),
                      i -> substr(word, i, 2))) AS pair, freq FROM wf)
  GROUP BY pair ORDER BY n DESC, pair LIMIT 8
),
rules AS (
  SELECT substr(pair, 1, 1) AS ra, substr(pair, 2, 1) AS rb,
         row_number() OVER (ORDER BY n DESC, pair) AS rrank
  FROM pc
),
apply AS (
  SELECT word, freq,
         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                i -> substr(word, i, 1)), ' ') || ' ' AS toks
  FROM wf
  UNION ALL
  SELECT word, freq,
         substr(toks, 1, best.pos - 1) || ' ' || best.merged || ' '
           || substr(toks, best.pos + best.patlen)
  FROM (
    SELECT word, freq, toks,
           (SELECT struct_pack(
                pos := strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' '),
                patlen := length(r.ra) + length(r.rb) + 3,
                merged := r.ra || r.rb)
            FROM rules r
            WHERE strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' ') > 0
            ORDER BY r.rrank LIMIT 1) AS best
    FROM apply ap
  ) WHERE best IS NOT NULL
),
final AS (
  SELECT word, CAST(len(str_split(trim(toks), ' ')) AS BIGINT) AS n_toks
  FROM apply ap
  WHERE NOT EXISTS (SELECT 1 FROM rules r
                    WHERE strpos(ap.toks, ' ' || r.ra || ' ' || r.rb || ' ') > 0)
),
swc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt,
         CAST(length(word) AS BIGINT) AS n_chars
  FROM (SELECT source, unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 1
  GROUP BY source, word
)
SELECT swc.source,
       CAST(sum(swc.cnt) AS BIGINT) AS n_words,
       CAST(sum(swc.cnt * coalesce(f.n_toks, 1)) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(swc.cnt * coalesce(f.n_toks, 1)) * 1000
            // sum(swc.cnt) AS BIGINT) AS fertility_milli,
       CAST(sum(swc.cnt * swc.n_chars) * 1000
            // sum(swc.cnt * coalesce(f.n_toks, 1)) AS BIGINT)
         AS chars_per_token_milli
FROM swc LEFT JOIN final f ON f.word = swc.word
GROUP BY swc.source
"""


@register(
    "etl_tokenizer_fertility",
    oracle=_BPE_FERTILITY_ORACLE,
    doc="Tokenizer fertility by corpus source — BPE tokens emitted per "
    "whitespace word, and characters absorbed per BPE token, under the "
    "SAME trained merge table as text_bpe_apply (top-8 corpus-weighted "
    "character-pair merges, identical greedy rank-priority application "
    "— the recursive-CTE oracle replays it verbatim).  Fertility is "
    "the metric a data-mixing pipeline tracks per source: a source "
    "whose fertility is high relative to the corpus is being "
    "fragmented by the tokenizer (out-of-distribution vocabulary) and "
    "inflates its effective token budget.  Exactness: token counts "
    "are integers from the deterministic merge, fertility and "
    "chars-per-token land as exact milli truncating divisions; "
    "single-character words (unmergeable, outside the training vocab "
    "filter) count as one token via the COALESCE convention on BOTH "
    "engines.  Scale posture: the merge apply is |vocab|-bounded "
    "(distinct words), its result joins back to the (source, word) "
    "rollup — facts are touched twice total (train pair counts + "
    "source-word counts), both map-side combinable; the final stats "
    "are a |sources|-row rollup.",
    tags=("textops", "llm", "etl"),
)
def etl_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_RULES)
        .collect()
    )
    rules = [(r["pair"][0], r["pair"][1]) for r in top]

    pair_strs = [ra + rb for ra, rb in rules]

    def count_tokens(batches):
        for pdf in batches:
            n_out = []
            for word in pdf["word"]:
                # Early exit (r14): rules merge single-character pairs, so
                # a word containing none of the 8 rule digraphs has no
                # first merge — and merged (multi-char) tokens can never
                # equal a single-char rule side, so later merges cannot
                # appear either.  C-speed substring checks skip the
                # O(rules x len) Python loop for the common case.
                if not any(p in word for p in pair_strs):
                    n_out.append(len(word))
                    continue
                toks = list(word)
                while True:
                    best = None
                    for rank, (ra, rb) in enumerate(rules):
                        for j in range(len(toks) - 1):
                            if toks[j] == ra and toks[j + 1] == rb:
                                if best is None or rank < best[0]:
                                    best = (rank, j)
                                break
                    if best is None:
                        break
                    j = best[1]
                    toks[j : j + 2] = [toks[j] + toks[j + 1]]
                n_out.append(len(toks))
            yield pd.DataFrame({"word": pdf["word"], "n_toks": n_out})

    per_word = wf.select("word").mapInPandas(
        count_tokens, schema="word string, n_toks long"
    )
    swc = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("n_chars", F.length("word").cast("bigint"))
    )
    j = swc.join(per_word, "word", "left").withColumn(
        "n_toks", F.coalesce("n_toks", F.lit(1)).cast("bigint")
    )
    return j.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_toks")).cast("bigint").alias("n_bpe_tokens"),
        F.expr(
            "CAST(div(sum(cnt * n_toks) * 1000, sum(cnt)) AS BIGINT)"
        ).alias("fertility_milli"),
        F.expr(
            "CAST(div(sum(cnt * n_chars) * 1000, sum(cnt * n_toks)) AS BIGINT)"
        ).alias("chars_per_token_milli"),
    )


@register(
    "text_js_divergence_sources",
    oracle="""
WITH tok AS (
  SELECT source, unnest(str_split(text, ' ')) AS term FROM documents
), ts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term <> '' GROUP BY source, term
), tot AS (
  SELECT source, CAST(sum(tf) AS BIGINT) AS n FROM ts GROUP BY source
), pairs AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(a.tf AS DOUBLE) / ta.n AS p,
         CAST(b.tf AS DOUBLE) / tb.n AS q
  FROM ts a JOIN ts b ON a.term = b.term AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
), agg AS (
  SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_shared_terms,
         sum(p + q) AS sum_pq,
         sum(0.5 * p * ln(2.0 * p / (p + q))
             + 0.5 * q * ln(2.0 * q / (p + q))) AS sum_c
  FROM pairs GROUP BY sa, sb
)
SELECT sa AS source_a, sb AS source_b, n_shared_terms,
       round(0.5 * ln(2.0) * (2.0 - sum_pq) + sum_c, 9) AS jsd
FROM agg
""",
    doc="Pairwise Jensen-Shannon divergence between source unigram "
    "distributions — the corpus-mixture diagnostic an LLM data pipeline "
    "uses to quantify how different two ingest sources are (0 = "
    "identical distributions, ln 2 = disjoint; symmetric and bounded, "
    "unlike KL).  Decomposition makes it join-local: only terms present "
    "in BOTH sources need the pair term-join — the absent-side mass "
    "folds into the closed form 0.5*ln2*(2 - sum(p+q over shared)), "
    "since each unshared term contributes exactly 0.5*p*ln2.  So the "
    "plan is one (source, term) rollup, a vocab-keyed self-join whose "
    "fanout is bounded by sources-per-term (never |vocab| x |pairs|), "
    "and a |pairs|-row rollup — at 100 TB the join stays "
    "term-partitioned with no all-pairs blowup.  Float discipline: "
    "p, q are doubles from exact integer (tf, total) pairs; the pair "
    "sum rounds at 1e-9 on both engines before emission (the "
    "perplexity-family transcendental re-sync).",
    tags=("textops", "llm"),
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import pin_cache

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # pinned: (source, term) counts feed both self-join sides and the
    # totals — one tokenize+rollup pass, not three
    ts = pin_cache(
        tok.groupBy("source", "term").agg(F.count("*").cast("bigint").alias("tf"))
    )
    tot = ts.groupBy("source").agg(F.sum("tf").cast("bigint").alias("n"))
    a = ts.alias("a")
    b = ts.alias("b")
    ta = tot.alias("ta")
    tb = tot.alias("tb")
    pairs = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.source") < F.col("b.source")))
        .join(F.broadcast(ta), F.col("ta.source") == F.col("a.source"))
        .join(F.broadcast(tb), F.col("tb.source") == F.col("b.source"))
        .select(
            F.col("a.source").alias("sa"),
            F.col("b.source").alias("sb"),
            (F.col("a.tf").cast("double") / F.col("ta.n")).alias("p"),
            (F.col("b.tf").cast("double") / F.col("tb.n")).alias("q"),
        )
    )
    agg = pairs.groupBy("sa", "sb").agg(
        F.count("*").cast("bigint").alias("n_shared_terms"),
        F.sum(F.col("p") + F.col("q")).alias("sum_pq"),
        F.sum(
            0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q")))
            + 0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
        ).alias("sum_c"),
    )
    return agg.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_shared_terms",
        F.round(
            0.5 * F.log(F.lit(2.0)) * (2.0 - F.col("sum_pq")) + F.col("sum_c"), 9
        ).alias("jsd"),
    )


_MATTR_W = 50  # moving-average TTR window (Covington-McFall standard)


@register(
    "text_mattr_lexical_diversity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
tok AS (
  SELECT doc_id, list_extract(ts, CAST(r.i AS INTEGER)) AS term, r.i AS pos
  FROM toks, UNNEST(range(1, len(ts) + 1)) AS r(i)
  WHERE list_extract(ts, CAST(r.i AS INTEGER)) <> ''),
win AS (
  SELECT doc_id, pos,
         CAST(count(DISTINCT term) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN {_MATTR_W - 1} PRECEDING AND CURRENT ROW) AS BIGINT)
           AS types,
         CAST(count(*) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN {_MATTR_W - 1} PRECEDING AND CURRENT ROW) AS BIGINT)
           AS nwin
  FROM tok)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(types) AS BIGINT) AS sum_types,
       CAST(sum(types) * 1000000 // ({_MATTR_W} * count(*)) AS BIGINT)
         AS mattr_ppm
FROM win WHERE nwin = {_MATTR_W}
GROUP BY doc_id
""",
    doc=f"MATTR lexical diversity (Covington & McFall 2010 moving-"
    f"average type-token ratio, window {_MATTR_W}): the length-"
    "independent vocabulary-richness score LLM quality filters use "
    "where raw TTR collapses with document length.  Per full window "
    f"of {_MATTR_W} consecutive tokens, the distinct-type count; MATTR "
    "= mean window TTR, pinned as sum(types)*1e6 // (W*n_windows) — "
    "exact integers end to end, no floats.  Scale posture: the window "
    "is PARTITIONED BY doc (token positions from posexplode), so "
    "state is document-bounded; one tokenize pass, one per-doc window, "
    "one per-doc rollup.  Spark computes the windowed distinct count "
    "as size(collect_set) over the bounded ROWS frame (count DISTINCT "
    "is not directly windowable in Spark; the set is <= W elements).",
    tags=("textops", "llm"),
)
def text_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_MATTR_W - 1), 0)
    )
    win = tok.select(
        "doc_id",
        F.size(F.collect_set("term").over(w)).cast("bigint").alias("types"),
        F.count("*").over(w).cast("bigint").alias("nwin"),
    )
    return (
        win.filter(F.col("nwin") == _MATTR_W)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum("types").cast("bigint").alias("sum_types"),
            F.expr(
                f"CAST(div(sum(types) * 1000000, {_MATTR_W} * count(*)) AS BIGINT)"
            ).alias("mattr_ppm"),
        )
    )


@register(
    "text_char_entropy",
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(str_split(text, '')) AS ch FROM documents
), cnts AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS cnt
  FROM ch GROUP BY doc_id, ch
), agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS n_distinct_chars,
         round(sum(cnt * ln(cnt)), 9) AS s
  FROM cnts GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
       round((ln(n_chars) - s / n_chars) / ln(2), 6) AS entropy_bits,
       round((ln(n_chars) - s / n_chars) / ln(2), 6) < 3.0 AS low_entropy
FROM agg
""",
    doc="Per-document CHARACTER-level Shannon entropy (bits/char) — the "
    "classic cheap gibberish/boilerplate detector corpus pipelines run "
    "before training: base64 blobs and minified JS score high, "
    "repeated-template boilerplate scores low, natural prose sits near "
    "4 bits; the low_entropy flag (< 3.0 bits) marks the boilerplate "
    "tail.  Complements text_ocr_noise_score (charset-class signal) and "
    "text_repetition_stats (word/bigram duplication) with the "
    "distribution-shape signal both miss.  Formulation: explode to "
    "(doc_id, char), count, then H = (ln n - Σ cnt·ln cnt / n)/ln 2 — "
    "ONE shuffle keyed (doc_id, char) whose cardinality is bounded by "
    "|docs|·|alphabet|, with map-side partial counts doing most of the "
    "work; a zero-shuffle per-row HOF variant exists "
    "(aggregate over array_distinct) but its per-row cost is "
    "O(distinct·len) and DuckDB's list_distinct does not pin element "
    "order, so the grouped form is both the faster AND the "
    "oracle-parity-safe one.  Cross-engine FP: the Σ cnt·ln cnt sum "
    "order differs between engines — rounded to 9 before the division "
    "(the text_unigram_perplexity re-sync pattern); split(text, '') "
    "yields per-character arrays identically in Spark and DuckDB on "
    "these ASCII corpora (code-point parity pinned by the r12 fuzz "
    "campaign for non-ASCII).",
    tags=("textops",),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnts = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    agg = cnts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.round(F.sum(F.col("cnt") * F.log("cnt")), 9).alias("s"),
    )
    ln2 = 0.6931471805599453
    h = F.round((F.log("n_chars") - F.col("s") / F.col("n_chars")) / ln2, 6)
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        h.alias("entropy_bits"),
        (h < 3.0).alias("low_entropy"),
    )
