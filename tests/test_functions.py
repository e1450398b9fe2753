"""Property-based tests (hypothesis) for the id/hash functions — the
upgrade the reference's example-based suite lacks (SURVEY §5.1/5.2)."""

from __future__ import annotations

import datetime
import re

from hypothesis import given, settings
from hypothesis import strategies as st


def _scrub(s: str) -> str:
    return re.sub(r"[^a-zA-Z0-9_]", "_", s).strip().lower()


@given(st.text(max_size=40))
@settings(max_examples=200, deadline=None)
def test_scrub_idempotent(s):
    assert _scrub(_scrub(s)) == _scrub(s)


@given(st.text(max_size=40))
@settings(max_examples=200, deadline=None)
def test_scrub_charset(s):
    assert re.fullmatch(r"[a-z0-9_]*", _scrub(s))


def test_reaction_hash_permutation_invariant(spark):
    """mini_stoich: permuted stoichiometry must collide; different must not."""
    from pyspark.sql import functions as F

    rows = [
        ("r1", 101, 2.0), ("r1", 202, -1.0),
        ("r2", 202, -1.0), ("r2", 101, 2.0),   # permutation of r1 -> same hash
        ("r3", 101, -2.0), ("r3", 202, 1.0),   # reversed signs -> different
    ]
    df = spark.createDataFrame(rows, "rxn string, met long, coef double")
    pair = F.concat_ws(":", F.col("met"), F.col("coef").cast("long"))
    sig = df.groupBy("rxn").agg(
        F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(pair))), 256).alias("h")
    )
    h = dict((r.rxn, r.h) for r in sig.collect())
    assert h["r1"] == h["r2"]
    assert h["r1"] != h["r3"]


def test_znorm_known_values(spark):
    """SNIPPETS.md mini_kv frame: z-normalize expectations (FIXTURES §3)."""
    import pandas as pd

    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0), (2, 5.0), (2, 10.0)], "id long, v double"
    )

    def znorm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"]
        return pd.DataFrame({"id": pdf["id"], "z": (v - v.mean()) / v.std(ddof=1)})

    out = df.groupBy("id").applyInPandas(znorm, "id long, z double")
    got = sorted((r.id, round(r.z, 4)) for r in out.collect())
    assert got == [
        (1, -0.7071), (1, 0.7071),
        (2, -0.8321), (2, -0.2774), (2, 1.1094),
    ]


def test_benford_constants_and_completeness(spark, sf_dir):
    """Benford ppm constants equal round(1e6*log10(1+1/d)) (recomputed
    here with math.log10 — the engines never evaluate a log), each
    metric covers all 9 digits exactly once, and ppm columns are
    internally consistent (obs sums to ~1e6, dev = |obs-exp|)."""
    import math

    from cobradb_spark import registry
    from cobradb_spark.queries.layout import _BENFORD_PPM

    for d, p in enumerate(_BENFORD_PPM, start=1):
        assert p == round(1_000_000 * math.log10(1 + 1 / d))

    rows = registry.get_query("profile_benford_deviation").fn(spark, sf_dir).collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r.metric, []).append(r)
        assert r.exp_ppm == _BENFORD_PPM[r.digit - 1]
        assert r.abs_dev_ppm == abs(r.obs_ppm - r.exp_ppm)
    for metric, rs in by_metric.items():
        assert sorted(r.digit for r in rs) == list(range(1, 10)), metric
        s = sum(r.obs_ppm for r in rs)
        assert 1_000_000 - 9 <= s <= 1_000_000  # truncating division undershoot


def _replay_prefix_sums(rows, group, sort_key, values):
    """Pure-Python prefix_sums: {uid: ({v: before}, {v: total})}."""
    acc, before = {}, {}
    for r in sorted(rows, key=sort_key):
        g = tuple(r[c] for c in group)
        run = acc.setdefault(g, dict.fromkeys(values, 0))
        before[r["uid"]] = (g, dict(run))
        for v in values:
            run[v] += r[v]
    return {uid: (b, acc[g]) for uid, (g, b) in before.items()}


def test_prefix_sums_matches_bruteforce(spark):
    """rank.prefix_sums equals a pure-Python replay of <v>_before and
    <v>_total: grouped and ungrouped, groups straddling the range
    boundaries at 2, 5 and 13 partitions, a one-row group, a null
    group, duplicate order keys broken by uid, a descending order column
    and an empty frame."""
    import random

    from cobradb_spark.operators.rank import prefix_sums, release_rank_caches
    from pyspark.sql import functions as F

    def check(rows, group, order, sort_key, num_parts):
        df = spark.createDataFrame(rows, "uid long, grp long, a long, b long")
        out = prefix_sums(df, group, order, ["a", "b"], num_parts=num_parts)
        got = {
            r.uid: ({"a": r.a_before, "b": r.b_before}, {"a": r.a_total, "b": r.b_total})
            for r in out.collect()
        }
        release_rank_caches()
        assert got == _replay_prefix_sums(rows, group, sort_key, ["a", "b"]), (
            group,
            order,
            num_parts,
        )

    rng = random.Random(88)
    for trial, num_parts in [(0, 2), (1, 5), (2, 13)]:
        n = 80 + trial * 57
        rows = [
            dict(uid=i, grp=rng.randint(0, 9), a=rng.randint(0, 100), b=rng.randint(0, 5))
            for i in range(n)
        ]
        rows.append(dict(uid=n, grp=42, a=7, b=3))  # a one-row group
        rows += [dict(uid=n + 1 + i, grp=None, a=i, b=1) for i in range(2)]

        def grp(r):  # Spark's ascending order puts nulls first
            return (r["grp"] is not None, r["grp"])

        # the whole frame as one group, over the composite (grp, uid) order
        check(rows, [], ["grp", "uid"], lambda r: (grp(r), r["uid"]), num_parts)
        # per group, duplicate `a` keys broken by uid
        check(rows, ["grp"], ["a", "uid"], lambda r: (grp(r), r["a"], r["uid"]), num_parts)
        # per group, descending `a`
        check(
            rows,
            ["grp"],
            [F.col("a").desc(), F.col("uid")],
            lambda r: (grp(r), -r["a"], r["uid"]),
            num_parts,
        )

    check([], ["grp"], ["uid"], lambda r: r["uid"], None)  # no rows at all


def test_global_prefix_sums_matches_sequential(spark):
    """Property: the ungrouped multi-column prefix sum equals the
    single-threaded prefix computation for random multisets, any
    partition count, including duplicate order keys (total order comes
    from the unique tiebreaker)."""
    import random

    from cobradb_spark.operators.rank import prefix_sums, release_rank_caches

    rng = random.Random(88)
    for trial, num_parts in [(0, 2), (1, 5), (2, 13)]:
        n = 80 + trial * 57
        rows = [
            (i, rng.randint(0, 9), rng.randint(0, 100), rng.randint(0, 5))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "uid long, grp long, a long, b long")
        out = prefix_sums(df, [], ["grp", "uid"], ["a", "b"], num_parts=num_parts).collect()
        release_rank_caches()
        ordered = sorted(rows, key=lambda r: (r[1], r[0]))
        want_a = want_b = 0
        expect = {}
        for uid, grp, a, b in ordered:
            expect[uid] = (want_a, want_b)
            want_a += a
            want_b += b
        for r in out:
            assert (r.a_before, r.b_before) == expect[r.uid], (num_parts, r.uid)
            assert (r.a_total, r.b_total) == (want_a, want_b), (num_parts, r.uid)


# --- r12: cross-engine property fuzz for the H1-H4 + SimHash scalar
# surface (r11 VERDICT item 8).  These formulations carry hand-built
# cross-engine hash tricks (md5-bucket conv, array_sort vs ORDER BY,
# regex charsets); the fuzz drives random unicode / whitespace / empty
# strings through BOTH engines and asserts bit-identical outputs —
# hardening the most user-facing scalar surface the way the codec
# family is (200-mutation fuzz).  One Spark job + one DuckDB query per
# example; strings exclude NUL (DuckDB VARCHAR rejects it) and lone
# surrogates (not valid UTF-8, unrepresentable in Arrow transfer).

_XTEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=30,
)


def _duck_on(pdf, sql):
    import duckdb

    con = duckdb.connect()
    con.register("t", pdf)
    out = con.execute(sql).df()
    con.close()
    return out


@given(st.lists(_XTEXT, min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_h1_normalize_crossengine(spark, xs):
    """H1 str_normalize_ids chain: regexp_replace charset scrub + lower
    + trim + translate agree byte-for-byte on arbitrary unicode."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got = (
        df.select(
            "i",
            F.lower(F.trim(F.regexp_replace("s", "[^a-zA-Z0-9_]", "_"))).alias("norm"),
            F.translate("s", " -", "__").alias("tr"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        "SELECT i, lower(trim(regexp_replace(s, '[^a-zA-Z0-9_]', '_', 'g'))) AS norm, "
        "translate(s, ' -', '__') AS tr FROM t ORDER BY i",
    )
    assert list(got["norm"]) == list(want["norm"])
    assert list(got["tr"]) == list(want["tr"])


# Java regex `$` (default mode) matches BEFORE a final line terminator
# (\n, \r\n, \x85,  ,  ) while RE2's `$` is \z — a GENUINE
# engine divergence (verified: Spark extracts 'a' from "a b\n", DuckDB
# returns '').  The H2 key's input (p_name) never ends in a line
# terminator, so the key is safe; the fuzz asserts agreement exactly on
# the domain where the engines agree.
_LINE_TERMINATORS = ("\n", "\r", "\x85", "\u2028", "\u2029")


@given(st.lists(_XTEXT, min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_h2_split_extract_crossengine(spark, xs):
    """H2 str_split_compartment: regexp_extract groups on ^(\\w+) (\\w+)$
    (ASCII \\w in both Java regex and RE2) and first split token agree,
    including no-match -> '' and empty-string -> [''] conventions.
    Strings ending in a line terminator are excluded — Java `$` vs RE2
    `$` genuinely differ there (comment above)."""
    import pandas as pd
    from hypothesis import assume
    from pyspark.sql import functions as F

    xs = [s for s in xs if not s.endswith(_LINE_TERMINATORS)]
    assume(xs)
    pat = r"^(\w+) (\w+)$"
    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got = (
        df.select(
            "i",
            F.regexp_extract("s", pat, 1).alias("g1"),
            F.regexp_extract("s", pat, 2).alias("g2"),
            F.split("s", " ").getItem(0).alias("tok"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        "SELECT i, regexp_extract(s, '^(\\w+) (\\w+)$', 1) AS g1, "
        "regexp_extract(s, '^(\\w+) (\\w+)$', 2) AS g2, "
        "str_split(s, ' ')[1] AS tok FROM t ORDER BY i",
    )
    assert list(got["g1"]) == list(want["g1"])
    assert list(got["g2"]) == list(want["g2"])
    assert list(got["tok"]) == list(want["tok"])


@given(st.lists(_XTEXT, min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_md5_bucket_conv_crossengine(spark, xs):
    """The md5-bucket trick underlying SimHash/mlprep determinism:
    Spark conv(substring(md5(x),1,15),16,10) == DuckDB
    CAST('0x'||substr(md5(x),1,15) AS UBIGINT) for arbitrary strings."""
    import pandas as pd
    from cobradb_spark.queries.textops import _H_DUCK, _H_SPARK
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got = df.select("i", _H_SPARK(F.col("s")).alias("h")).toPandas().sort_values("i")
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        f"SELECT i, {_H_DUCK.format(c='s')} AS h FROM t ORDER BY i",
    )
    assert [int(v) for v in got["h"]] == [int(v) for v in want["h"]]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # group
            st.integers(-(2**40), 2**40),  # "metabolite" key
            st.integers(-(10**6), 10**6),  # "stoich" quantity
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None)
def test_h4_reaction_signature_crossengine(spark, rows):
    """H4 hash_reaction_dedup signature: sha2-of-sorted-pairs equals
    DuckDB sha256(string_agg ORDER BY) for random int pairs, including
    negatives and duplicate pairs (array_sort and ORDER BY coincide on
    the ASCII pair encoding)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "g long, k long, q long")
    pair = F.concat_ws(":", F.col("k"), F.col("q"))
    got = (
        df.groupBy("g")
        .agg(F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(pair))), 256).alias("sig"))
        .toPandas()
        .sort_values("g")
    )
    want = _duck_on(
        pd.DataFrame(rows, columns=["g", "k", "q"]),
        "SELECT g, sha256(string_agg(concat(k, ':', q), ',' "
        "ORDER BY concat(k, ':', q))) AS sig FROM t GROUP BY g ORDER BY g",
    )
    assert list(got["sig"]) == list(want["sig"])


@given(st.lists(_XTEXT, min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_simhash_fingerprint_crossengine(spark, xs):
    """SimHash fingerprints agree bit-for-bit across engines on random
    unicode texts (empty strings, runs of spaces, astral chars), and
    the banding invariant holds: any pair at hamming <= 3 shares at
    least one of the 4 15-bit chunks (the pigeonhole recall guarantee
    dedup_simhash's candidate join relies on)."""
    import pandas as pd
    from cobradb_spark.queries.textops import (
        _CHUNK_BITS,
        _H_DUCK,
        _SIMHASH_BITS,
        _SIMHASH_CHUNKS,
        simhash_fingerprint,
    )

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "doc_id long, text string")
    got = simhash_fingerprint(df).toPandas().sort_values("doc_id")
    bitcols = ", ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST(1 AS BIGINT) << {b} ELSE 0 END AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    ors = " | ".join(f"b{b}" for b in range(_SIMHASH_BITS))
    want = _duck_on(
        pd.DataFrame({"doc_id": range(len(xs)), "text": xs}),
        f"""WITH words AS (
  SELECT doc_id, {_H_DUCK.format(c="unnest(str_split(text, ' '))")} AS h FROM t
), bits AS (SELECT doc_id, {bitcols} FROM words GROUP BY doc_id)
SELECT doc_id, ({ors}) AS fingerprint FROM bits ORDER BY doc_id""",
    )
    fps = [int(v) for v in got["fingerprint"]]
    assert fps == [int(v) for v in want["fingerprint"]]
    mask = (1 << _CHUNK_BITS) - 1
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            if bin(fps[i] ^ fps[j]).count("1") <= 3:
                assert any(
                    (fps[i] >> (c * _CHUNK_BITS)) & mask
                    == (fps[j] >> (c * _CHUNK_BITS)) & mask
                    for c in range(_SIMHASH_CHUNKS)
                )


@given(
    st.lists(_XTEXT, min_size=1, max_size=30),
    st.integers(min_value=2, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_word_ngrams_crossengine(spark, xs, n):
    """The shared n-gram builder (cobradb_spark/ngrams.py) produces
    identical gram lists in both engines for ANY text — including docs
    under n words, empty texts, and runs of spaces (the r12 review
    found the previous inline DuckDB concat() form diverged exactly
    there: it kept separators around NULL words)."""
    import pandas as pd
    from cobradb_spark.ngrams import ngrams_sql, word_ngrams
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got = (
        df.select("i", F.split("s", " ").alias("w"))
        .select("i", word_ngrams("w", n).alias("grams"))
        .toPandas()
        .sort_values("i")
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        f"SELECT i, {ngrams_sql('str_split(s, chr(32))', n)} AS grams FROM t ORDER BY i",
    )
    assert [list(g) for g in got["grams"]] == [list(g) for g in want["grams"]]


@given(
    st.lists(
        st.dates(min_value=datetime.date(1900, 1, 2),
                 max_value=datetime.date(2199, 12, 30)),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=12, deadline=None)
def test_h5_date_parts_crossengine(spark, ds):
    """H5 date_parts_trunc family: year/month/ISO-dow (Spark weekday()+1
    == DuckDB isodow), Monday week truncation, epoch day diff, and
    last_day agree across engines for arbitrary dates (leap years,
    century boundaries, pre-1970)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, d) for i, d in enumerate(ds)], "i long, d date")
    got = (
        df.select(
            "i",
            F.year("d").cast("long").alias("y"),
            F.month("d").cast("long").alias("m"),
            (F.weekday("d") + 1).cast("long").alias("iso_dow"),
            F.date_trunc("week", "d").alias("week_start"),
            F.datediff("d", F.lit("1970-01-01").cast("date")).cast("long").alias("epoch_days"),
            F.last_day("d").cast("timestamp_ntz").alias("month_end"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(ds)), "d": pd.to_datetime(ds)}),
        "SELECT i, CAST(year(d) AS BIGINT) AS y, CAST(month(d) AS BIGINT) AS m, "
        "CAST(isodow(d) AS BIGINT) AS iso_dow, "
        "CAST(date_trunc('week', d) AS TIMESTAMP) AS week_start, "
        "date_diff('day', TIMESTAMP '1970-01-01', d) AS epoch_days, "
        "CAST(last_day(CAST(d AS DATE)) AS TIMESTAMP) AS month_end FROM t ORDER BY i",
    )
    for c in ("y", "m", "iso_dow", "epoch_days"):
        assert [int(v) for v in got[c]] == [int(v) for v in want[c]], c
    for c in ("week_start", "month_end"):
        assert list(pd.to_datetime(got[c])) == list(pd.to_datetime(want[c])), c


# Floats of the form k/8 keep every square and sum on a 6-fractional-bit
# grid, so round(x, 6) is exact on both engines (no .xxxxxx5 tie can
# arise — math_suite's docstring documents why ties are out of contract).
_EIGHTHS = st.integers(min_value=-800, max_value=800).map(lambda k: k / 8.0)


@given(st.lists(st.lists(_EIGHTHS, min_size=0, max_size=24), min_size=1, max_size=30))
@settings(max_examples=12, deadline=None)
def test_h8_array_hof_crossengine(spark, arrays):
    """H8 higher-order array functions: filter/aggregate/exists/forall
    vs list_filter/list_sum(list_transform)/len-comparisons agree for
    arbitrary double arrays, including empty arrays and zeros."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i long, emb array<double>"
    )
    got = (
        df.select(
            "i",
            F.size(F.filter("emb", lambda x: x > 0)).cast("long").alias("n_pos"),
            F.round(
                F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x), 6
            ).alias("sumsq"),
            F.exists("emb", lambda x: x > 2.0).alias("any_big"),
            F.forall("emb", lambda x: F.abs(x) < 10.0).alias("all_small"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(arrays)), "emb": arrays}),
        "SELECT i, CAST(len(list_filter(emb, x -> x > 0)) AS BIGINT) AS n_pos, "
        "round(coalesce(list_sum(list_transform(emb, x -> x * x)), 0.0), 6) AS sumsq, "
        "(len(list_filter(emb, x -> x > 2.0)) > 0) AS any_big, "
        "(len(list_filter(emb, x -> abs(x) >= 10.0)) = 0) AS all_small FROM t ORDER BY i",
    )
    assert [int(v) for v in got["n_pos"]] == [int(v) for v in want["n_pos"]]
    assert [float(v) for v in got["sumsq"]] == [float(v) for v in want["sumsq"]]
    assert [bool(v) for v in got["any_big"]] == [bool(v) for v in want["any_big"]]
    assert [bool(v) for v in got["all_small"]] == [bool(v) for v in want["all_small"]]


@given(
    st.lists(
        st.tuples(st.sampled_from(["O", "F", "P"]), st.sampled_from(["1-URGENT", "2-HIGH", "3-LOW"])),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_h11_null_chain_crossengine(spark, rows):
    """H11 conditional_null chain: nullif/coalesce/nvl2 fallbacks agree
    across engines for every status/priority combination (the branches
    where nullif yields NULL are the interesting ones)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, s, p) for i, (s, p) in enumerate(rows)], "i long, s string, p string"
    )
    s_or_null = F.nullif("s", F.lit("O"))
    got = (
        df.select(
            "i",
            s_or_null.alias("s_null"),
            F.coalesce(s_or_null, F.nullif("p", F.lit("1-URGENT")), F.lit("fb")).alias("first_nn"),
            F.nvl2(s_or_null, F.lit("closed"), F.lit("open")).alias("nvl2"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame(
            {"i": range(len(rows)), "s": [r[0] for r in rows], "p": [r[1] for r in rows]}
        ),
        "SELECT i, nullif(s, 'O') AS s_null, "
        "coalesce(nullif(s, 'O'), nullif(p, '1-URGENT'), 'fb') AS first_nn, "
        "CASE WHEN nullif(s, 'O') IS NOT NULL THEN 'closed' ELSE 'open' END AS nvl2 "
        "FROM t ORDER BY i",
    )
    same = lambda a, b: (pd.isna(a) and pd.isna(b)) or a == b  # noqa: E731
    for c in ("s_null", "first_nn", "nvl2"):
        assert all(same(a, b) for a, b in zip(got[c], want[c])), c


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_window_family_crossengine(spark, rows):
    """E-family window functions agree across engines on random grouped
    data WITH VALUE TIES: rank / dense_rank / ntile(3) / percent_rank /
    cume_dist / lag / lead over a deterministic (v, id) total order —
    ties in v are the interesting case (rank gaps, cume_dist plateaus);
    the id tiebreaker makes every projected value engine-independent."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g long, v long")
    w = Window.partitionBy("g").orderBy(F.col("v"), F.col("id"))
    got = (
        df.select(
            "id",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(3).over(w).cast("long").alias("nt"),
            F.round(F.percent_rank().over(w), 9).alias("pr"),
            F.round(F.cume_dist().over(w), 9).alias("cd"),
            F.lag("v", 1).over(w).alias("lg"),
            F.lead("v", 1, -999).over(w).alias("ld"),
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame(data, columns=["id", "g", "v"]),
        "SELECT id, CAST(rank() OVER w AS BIGINT) AS rnk, "
        "CAST(dense_rank() OVER w AS BIGINT) AS drnk, "
        "CAST(ntile(3) OVER w AS BIGINT) AS nt, "
        "round(percent_rank() OVER w, 9) AS pr, "
        "round(cume_dist() OVER w, 9) AS cd, "
        "lag(v, 1) OVER w AS lg, lead(v, 1, -999) OVER w AS ld "
        "FROM t WINDOW w AS (PARTITION BY g ORDER BY v, id) ORDER BY id",
    )
    for c in ("rnk", "drnk", "nt"):
        assert [int(v) for v in got[c]] == [int(v) for v in want[c]], c
    for c in ("pr", "cd"):
        assert [float(v) for v in got[c]] == [float(v) for v in want[c]], c
    same = lambda a, b: (pd.isna(a) and pd.isna(b)) or int(a) == int(b)  # noqa: E731
    assert all(same(a, b) for a, b in zip(got["lg"], want["lg"]))
    assert [int(v) for v in got["ld"]] == [int(v) for v in want["ld"]]


@given(
    st.lists(st.integers(0, 6), min_size=0, max_size=40),
    st.lists(st.integers(0, 6), min_size=0, max_size=40),
)
@settings(max_examples=10, deadline=None)
def test_setops_multiplicity_crossengine(spark, xs, ys):
    """G-family set semantics with DUPLICATES: union all / union
    distinct / intersect (distinct) / except (distinct) / intersectAll /
    exceptAll multiplicities match DuckDB's bag semantics exactly."""
    import pandas as pd
    from collections import Counter

    a = spark.createDataFrame([(v,) for v in xs] or [(None,)], "v int").filter("v is not null")
    b = spark.createDataFrame([(v,) for v in ys] or [(None,)], "v int").filter("v is not null")

    def bag(df):
        return Counter(r.v for r in df.collect())

    con_pdf_a = pd.DataFrame({"v": pd.Series(xs, dtype="int64")})
    con_pdf_b = pd.DataFrame({"v": pd.Series(ys, dtype="int64")})
    import duckdb

    con = duckdb.connect()
    try:
        con.register("ta", con_pdf_a)
        con.register("tb", con_pdf_b)

        def duck_bag(sql):
            return Counter(r[0] for r in con.execute(sql).fetchall())

        assert bag(a.unionAll(b)) == duck_bag("SELECT v FROM ta UNION ALL SELECT v FROM tb")
        assert bag(a.union(b).distinct()) == duck_bag("SELECT v FROM ta UNION SELECT v FROM tb")
        assert bag(a.intersect(b)) == duck_bag("SELECT v FROM ta INTERSECT SELECT v FROM tb")
        assert bag(a.exceptAll(b)) == duck_bag("SELECT v FROM ta EXCEPT ALL SELECT v FROM tb")
        assert bag(a.intersectAll(b)) == duck_bag("SELECT v FROM ta INTERSECT ALL SELECT v FROM tb")
        assert bag(a.subtract(b)) == duck_bag("SELECT v FROM ta EXCEPT SELECT v FROM tb")
    finally:
        con.close()


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_percentile_and_ordered_pick_crossengine(spark, rows):
    """D8/D10: Spark percentile()/median() match DuckDB
    percentile_cont/median (linear interpolation on random ints, odd
    and even group sizes, duplicate values), and max_by/min_by over a
    (value, unique-key) struct equals the row_number()-ranked pick."""
    import pandas as pd
    from pyspark.sql import functions as F

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g long, v long")
    got = (
        df.groupBy("g")
        .agg(
            F.round(F.expr("percentile(v, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(v, 0.5)"), 6).alias("p50"),
            F.round(F.median("v"), 6).alias("med"),
            F.expr("max_by(id, struct(v, id))").alias("argmax"),
            F.expr("min_by(id, struct(v, id))").alias("argmin"),
        )
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame(data, columns=["id", "g", "v"]),
        "WITH ranked AS (SELECT *, "
        "row_number() OVER (PARTITION BY g ORDER BY v DESC, id DESC) AS rmax, "
        "row_number() OVER (PARTITION BY g ORDER BY v ASC, id ASC) AS rmin FROM t) "
        "SELECT g, "
        "round(percentile_cont(0.25) WITHIN GROUP (ORDER BY v), 6) AS p25, "
        "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 6) AS p50, "
        "round(median(v), 6) AS med, "
        "max(CASE WHEN rmax = 1 THEN id END) AS argmax, "
        "max(CASE WHEN rmin = 1 THEN id END) AS argmin "
        "FROM ranked GROUP BY g ORDER BY g",
    )
    for c in ("p25", "p50", "med"):
        assert [float(v) for v in got[c]] == [float(v) for v in want[c]], c
    for c in ("argmax", "argmin"):
        assert [int(v) for v in got[c]] == [int(v) for v in want[c]], c


# DuckDB levenshtein counts UTF-8 BYTES; Spark counts code points —
# a GENUINE engine divergence (verified: levenshtein('', '\u20ac') is
# 3 in DuckDB, 1 in Spark; '\U0001F600' scores 4 vs 1).  The fuzzy-join
# keys run on ASCII TPC-H names where the two coincide; the fuzz pins
# parity exactly on that domain (same treatment as the Java-vs-RE2 `$`
# divergence above).
_ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=127), max_size=30
)


@given(st.lists(st.tuples(_ASCII_TEXT, _ASCII_TEXT), min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_levenshtein_crossengine(spark, pairs):
    """H3 str_fuzzy_match's join predicate: levenshtein distances agree
    across engines on the ASCII domain the fuzzy-join keys run on
    (byte-vs-codepoint divergence on non-ASCII documented above)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a string, b string"
    )
    got = (
        df.select("i", F.levenshtein("a", "b").cast("long").alias("d"))
        .toPandas()
        .sort_values("i")
    )
    want = _duck_on(
        pd.DataFrame(
            {"i": range(len(pairs)), "a": [p[0] for p in pairs], "b": [p[1] for p in pairs]}
        ),
        "SELECT i, CAST(levenshtein(a, b) AS BIGINT) AS d FROM t ORDER BY i",
    )
    assert [int(v) for v in got["d"]] == [int(v) for v in want["d"]]


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 3)),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_null_safe_equality_crossengine(spark, rows):
    """C-family join_null_safe predicate: Spark's <=> (eqNullSafe)
    matches DuckDB's IS NOT DISTINCT FROM on every null/value
    combination."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a int, b int"
    )
    got = (
        df.select("i", F.col("a").eqNullSafe(F.col("b")).alias("eq"))
        .toPandas()
        .sort_values("i")
    )
    want = _duck_on(
        pd.DataFrame(
            {
                "i": range(len(rows)),
                "a": pd.array([r[0] for r in rows], dtype="Int64"),
                "b": pd.array([r[1] for r in rows], dtype="Int64"),
            }
        ),
        "SELECT i, (a IS NOT DISTINCT FROM b) AS eq FROM t ORDER BY i",
    )
    assert [bool(v) for v in got["eq"]] == [bool(v) for v in want["eq"]]


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 5)),
            st.one_of(st.none(), st.integers(0, 5)),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=10, deadline=None)
def test_multikey_null_ordering_crossengine(spark, rows):
    """F1 sort_multikey_nulls: (asc NULLS FIRST, desc NULLS LAST)
    multi-key ordering produces the same total order in both engines
    for random nullable keys (a unique id tiebreaker pins ties)."""
    import pandas as pd
    from pyspark.sql import functions as F

    data = [(i, a, b) for i, (a, b) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, a int, b int")
    got = [
        r.id
        for r in df.orderBy(
            F.col("a").asc_nulls_first(), F.col("b").desc_nulls_last(), F.col("id").asc()
        ).collect()
    ]
    want = _duck_on(
        pd.DataFrame(
            {
                "id": range(len(rows)),
                "a": pd.array([r[0] for r in rows], dtype="Int64"),
                "b": pd.array([r[1] for r in rows], dtype="Int64"),
            }
        ),
        "SELECT id FROM t ORDER BY a ASC NULLS FIRST, b DESC NULLS LAST, id ASC",
    )
    assert got == [int(v) for v in want["id"]]


@given(st.lists(_XTEXT, min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_string_slicing_crossengine(spark, xs):
    """The curation pipeline's fingerprints hash substring(text,1,30)
    and right(text,30); quality scoring divides by length(text).  Pin
    that all three are CODE-POINT based in both engines on arbitrary
    unicode (unlike levenshtein, where DuckDB counts bytes)."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got = (
        df.select(
            "i",
            F.substring("s", 1, 7).alias("pre"),
            F.expr("right(s, 7)").alias("suf"),
            F.length("s").cast("long").alias("n"),
        )
        .toPandas()
        .sort_values("i")
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        "SELECT i, substr(s, 1, 7) AS pre, right(s, 7) AS suf, "
        "CAST(length(s) AS BIGINT) AS n FROM t ORDER BY i",
    )
    assert list(got["pre"]) == list(want["pre"])
    assert list(got["suf"]) == list(want["suf"])
    assert [int(v) for v in got["n"]] == [int(v) for v in want["n"]]


@given(
    st.lists(
        st.one_of(
            st.none(),  # missing key entirely
            st.integers(-10**6, 10**6),
            st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                           blacklist_characters='"\\'), max_size=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_h10_json_extract_crossengine(spark, vals):
    """H10 json_extract_nested: get_json_object('$.k') matches DuckDB
    json_extract_string for int values, string values, and absent keys
    (NULL on both sides)."""
    import json as J

    import pandas as pd
    from pyspark.sql import functions as F

    props = [
        J.dumps({"other": 1}) if v is None else J.dumps({"k": v, "other": 1})
        for v in vals
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(props)], "i long, props string"
    )
    got = (
        df.select("i", F.get_json_object("props", "$.k").alias("k_str"))
        .toPandas()
        .sort_values("i")
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(props)), "props": props}),
        "SELECT i, json_extract_string(props, '$.k') AS k_str FROM t ORDER BY i",
    )
    same = lambda a, b: (pd.isna(a) and pd.isna(b)) or a == b  # noqa: E731
    assert all(same(a, b) for a, b in zip(got["k_str"], want["k_str"]))


@given(st.lists(_XTEXT.filter(lambda s: len(s) > 0), min_size=1, max_size=30))
@settings(max_examples=12, deadline=None)
def test_char_split_entropy_crossengine(spark, xs):
    """text_char_entropy's two cross-engine dependencies, fuzzed on
    arbitrary unicode: (1) Spark split(s, '') and DuckDB str_split(s, '')
    produce the identical per-character array (code-point splitting on
    both sides — astral plane included, since Java's zero-width split
    does not cut surrogate pairs); (2) the full entropy formulation
    (round-9 on the Σ cnt·ln cnt sum, round-6 on the bits) lands on the
    identical doubles despite engine-order FP summation."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(xs)], "i long, s string")
    got_chars = (
        df.select("i", F.split("s", "").alias("ch"))
        .toPandas()
        .sort_values("i")
    )
    want_chars = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        "SELECT i, str_split(s, '') AS ch FROM t ORDER BY i",
    )
    assert [list(c) for c in got_chars["ch"]] == [list(c) for c in want_chars["ch"]]

    cnts = (
        df.select("i", F.explode(F.split("s", "")).alias("ch"))
        .groupBy("i", "ch")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    got = (
        cnts.groupBy("i")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.round(F.sum(F.col("cnt") * F.log("cnt")), 9).alias("s9"),
        )
        .select(
            "i",
            "n",
            F.round(
                (F.log("n") - F.col("s9") / F.col("n")) / 0.6931471805599453, 6
            ).alias("h"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    want = _duck_on(
        pd.DataFrame({"i": range(len(xs)), "s": xs}),
        """
WITH ch AS (SELECT i, unnest(str_split(s, '')) AS ch FROM t),
cnts AS (SELECT i, ch, CAST(count(*) AS DOUBLE) AS cnt FROM ch GROUP BY i, ch),
agg AS (SELECT i, CAST(sum(cnt) AS BIGINT) AS n, round(sum(cnt * ln(cnt)), 9) AS s9
        FROM cnts GROUP BY i)
SELECT i, n, round((ln(n) - s9 / n) / ln(2), 6) AS h FROM agg ORDER BY i
""",
    ).reset_index(drop=True)
    assert got["n"].tolist() == want["n"].tolist()
    assert got["h"].tolist() == want["h"].tolist()
