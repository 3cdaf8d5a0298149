"""Property-based tests (hypothesis): the Spark expressions must agree
with reference Python semantics on arbitrary inputs — the reference's
_parse_value / _clean_text / hash behavior (etl/etl_ida.py:398-429,
124-131), and dedup/jaccard invariants."""

from __future__ import annotations

import math
import re

from hypothesis import given, settings, strategies as st


def _ref_parse(value: str):
    """Reference semantics: strip, ','→'.', drop '%', float() else None
    (etl/etl_ida.py:422-429)."""
    try:
        cleaned = value.strip().replace(",", ".").replace("%", "")
        return float(cleaned)
    except (ValueError, AttributeError):
        return None


def _ref_clean(text: str) -> str:
    return " ".join(text.split())


# keep strings printable-ascii so Spark/Python whitespace semantics align
_texty = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_texty, min_size=1, max_size=30))
def test_parse_locale_matches_reference(spark, raw_values):
    from ida_dataengineerproject_spark.functions.numparse import (
        parse_locale_number,
    )

    df = spark.createDataFrame([(v,) for v in raw_values], "raw string")
    got = [r.p for r in df.select(parse_locale_number("raw").alias("p")).collect()]
    want = [_ref_parse(v) for v in raw_values]
    for g, w, v in zip(got, want, raw_values):
        if w is None or (w is not None and (math.isinf(w) or math.isnan(w))):
            # Python float() accepts 'inf'/'nan' spellings; Spark cast does
            # too — compare by repr class only
            same_null = (g is None) == (w is None)
            assert same_null or (g is not None and w is not None), (v, g, w)
        else:
            assert g is not None and abs(g - w) < 1e-9, (v, g, w)


def test_parse_locale_fixed_examples_match_reference(spark):
    """The edge cases the 10-example property draw may miss: NULL,
    stacked or misplaced separators, Java-only number spellings and the
    special floats."""
    from ida_dataengineerproject_spark.functions.numparse import (
        parse_locale_number,
    )

    raw_values = [
        None, "12,34", "56,7%", "%%5", "1,2,3", "0 %", ",%", "1d", "0x10",
        "-inf", "nan",
    ]
    df = spark.createDataFrame([(v,) for v in raw_values], "raw string")
    got = [r.p for r in df.select(parse_locale_number("raw").alias("p")).collect()]
    for g, v in zip(got, raw_values):
        w = _ref_parse(v)
        if w is None:
            assert g is None, (v, g)
        elif math.isnan(w):
            assert g is not None and math.isnan(g), (v, g)
        else:
            assert g == w, (v, g, w)


@settings(max_examples=10, deadline=None)
@given(st.lists(_texty, min_size=1, max_size=30))
def test_clean_text_matches_reference(spark, texts):
    from ida_dataengineerproject_spark.operators.cleaning import clean_text

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.c for r in df.select(clean_text("t").alias("c")).collect()]
    want = [_ref_clean(t) for t in texts]
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=2, max_size=12
    )
)
def test_jaccard_bounds_and_symmetry(spark, texts):
    """0 <= jaccard <= 1, and pair (a,b) == pair (b,a) by construction."""
    from ida_dataengineerproject_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    pairs = ngram_jaccard_pairs(df, "id", "text", n=2, threshold=0.0).collect()
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.id_a < r.id_b  # canonical orientation, no dup pairs


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 5), min_size=1, max_size=40))
def test_sessionize_partitions_events(spark, gaps_minutes):
    """Every event lands in exactly one session; session_seq is contiguous
    from 1; a gap > threshold always starts a new session."""
    from ida_dataengineerproject_spark.operators.sessionize import sessionize

    ts, rows = 0, []
    for g in gaps_minutes:
        ts += g * 60_000_000  # minutes → micros
        rows.append((1, ts))
    df = spark.createDataFrame(rows, "user_id long, ts_us long").selectExpr(
        "user_id", "timestamp_micros(ts_us) AS ts"
    )
    out = sessionize(df, gap_minutes=2).orderBy("ts").collect()
    assert len(out) == len(rows)
    seqs = [r.session_seq for r in out]
    assert seqs[0] == 1
    for prev, cur, gap in zip(seqs, seqs[1:], gaps_minutes[1:]):
        if gap > 2:
            assert cur == prev + 1  # big gap ⇒ new session
        else:
            assert cur == prev  # small gap ⇒ same session


def test_stratified_sample_fractions(spark):
    """sampleBy per-stratum counts must track the requested fractions
    (binomial 5-sigma bounds) and never include an unlisted stratum."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.sources.tables import table
    from .conftest import SF_SMOKE

    d = table(spark, SF_SMOKE, "documents")
    fractions = {"en": 0.5, "pt": 1.0, "es": 0.25}
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {
        r.lang: r.n
        for r in d.sampleBy("lang", fractions=fractions, seed=42)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(got) <= set(fractions)
    for lang, frac in fractions.items():
        n = totals.get(lang, 0)
        if n == 0:
            continue
        mean, sd = n * frac, (n * frac * (1 - frac)) ** 0.5
        assert abs(got.get(lang, 0) - mean) <= 5 * sd + 1, (lang, got.get(lang), mean)


def test_chunking_covers_and_overlaps(spark):
    """xt3 invariants: (1) stride-decimated chunk concatenation
    reconstructs the document exactly; (2) consecutive chunks overlap by
    window-stride words; (3) every chunk except possibly the last has
    exactly `window` words."""
    import __spark_entry__ as e
    from ida_dataengineerproject_spark.sources.tables import table
    from .conftest import SF_SMOKE

    window, stride = 32, 24
    chunks = e.queries()["xt3_doc_chunking"](spark, SF_SMOKE).collect()
    texts = {
        r.doc_id: r.text
        for r in table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk

    assert set(by_doc) == set(texts)
    for doc_id, parts in by_doc.items():
        ordered = [parts[i] for i in range(len(parts))]
        words = texts[doc_id].split(" ")
        # reconstruction: first `stride` words of each chunk + full tail
        rebuilt = []
        for i, ch in enumerate(ordered):
            cw = ch.split(" ") if ch else []
            rebuilt.extend(cw if i == len(ordered) - 1 else cw[:stride])
        assert rebuilt == words, doc_id
        for i, ch in enumerate(ordered):
            expect = min(window, len(words) - i * stride)
            assert len(ch.split(" ")) == expect, (doc_id, i)
        for a, b in zip(ordered, ordered[1:]):
            aw, bw = a.split(" "), b.split(" ")
            assert aw[stride:] == bw[: len(aw) - stride], doc_id


def test_bmp_codec_roundtrip_property():
    """Any (width, height, gray) encodes to a valid BMP that decodes back
    exactly — including the row-padding edge cases (width % 4 != 0)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _bmp_decode,
        _bmp_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=24),
        g=st.integers(min_value=0, max_value=255),
    )
    def check(w, h, g):
        assert _bmp_decode(_bmp_encode(w, h, g)) == (w, h, 3, float(g))

    check()


def test_rolling_kr_matches_pure_python(spark):
    """The numpy sliding-window Karp-Rabin kernel must equal a direct
    pure-Python fold for arbitrary ASCII strings (incl. len<8 fallback)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ida_dataengineerproject_spark.functions.textstats import (
        rolling_fingerprint_kr,
    )

    def py_ref(s: str) -> int:
        if len(s) >= 8:
            def h(w):
                acc = 0
                for ch in w:
                    acc = acc * 31 + ord(ch)
                return acc
            return min(h(s[i : i + 8]) for i in range(len(s) - 7))
        acc = 0
        for ch in s:
            acc = acc * 31 + ord(ch)
        return acc

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=1,
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(strings):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(strings)], "i long, s string"
        )
        got = {
            r.i: r.fp
            for r in df.select(
                "i", rolling_fingerprint_kr(F.col("s")).alias("fp")
            ).collect()
        }
        assert got == {i: py_ref(s) for i, s in enumerate(strings)}

    check()


def _morton_ref_py(a: int, b: int) -> int:
    a &= 0x7FFFFFFF  # the operator's documented low-31-bit truncation
    b &= 0x7FFFFFFF
    out = 0
    for i in range(31):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**63 - 1),
            st.integers(min_value=0, max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_morton_spark_matches_reference(spark, pairs):
    """Spark's mask/shift Morton key == bit-by-bit Python reference on
    ARBITRARY longs — the operator is total (inputs truncate to their low
    31 bits; keys never reach the sign bit)."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.operators.zorder import morton_key

    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "z", morton_key(F.col("a"), F.col("b"))
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    for a, b in pairs:
        assert got[(a, b)] == _morton_ref_py(a, b)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**63 - 1),
            st.integers(min_value=0, max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=25, deadline=None)
def test_morton_duckdb_oracle_matches_reference(pairs):
    """The DuckDB SQL generated by _spread_sql (the xs1 oracle's engine
    side) == the same Python reference — both engines are pinned to one
    ground truth independently, so the oracle compare can't mask a
    matching-but-wrong pair of implementations."""
    import duckdb

    from ida_dataengineerproject_spark.queries.scale_ops import _spread_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    rows = con.execute(
        f"SELECT a, b, ({_spread_sql('a')} | ({_spread_sql('b')} << 1)) FROM t"
    ).fetchall()
    for a, b, z in rows:
        assert z == _morton_ref_py(a, b), (a, b)


@settings(max_examples=10, deadline=None)
@given(
    ps=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    )
)
def test_md5_coin_rate_tracks_probability(spark, ps):
    """The deterministic md5 coin (quality_ops._coin) must behave like
    Bernoulli(p): empirical keep-rate over 3000 distinct keys within a
    few standard deviations of p, exact 0 at p=0, and monotone in p for
    the same key set (a key kept at p1 is kept at every p2 >= p1 —
    threshold semantics)."""
    import pyspark.sql.functions as F

    from ida_dataengineerproject_spark.queries.quality_ops import _coin

    n = 3000
    df = spark.range(n).withColumnRenamed("id", "k")
    agg = df.select(
        *[
            F.sum(_coin(F.col("k"), F.lit(p)).cast("int")).alias(f"c{i}")
            for i, p in enumerate(ps)
        ]
    ).collect()[0]
    for i, p in enumerate(ps):
        rate = agg[f"c{i}"] / n
        sd = (p * (1 - p) / n) ** 0.5
        assert abs(rate - p) <= max(6 * sd, 2 / n), (p, rate)
    # monotonicity: evaluate the same keys under sorted ps
    if len(ps) >= 2:
        lo, hi = min(ps), max(ps)
        viol = df.filter(
            _coin(F.col("k"), F.lit(lo)) & ~_coin(F.col("k"), F.lit(hi))
        ).count()
        assert viol == 0


def test_md5_coin_matches_duckdb_exactly(spark, duck):
    """Coin membership must be bit-identical across engines for an
    arbitrary p — the property every sampling oracle relies on."""
    import pyspark.sql.functions as F

    from ida_dataengineerproject_spark.queries.quality_ops import (
        _COIN_SQL,
        _coin,
    )

    p = 0.37219
    spark_kept = sorted(
        r["k"]
        for r in spark.range(500)
        .withColumnRenamed("id", "k")
        .filter(_coin(F.col("k"), F.lit(p)))
        .collect()
    )
    duck_kept = sorted(
        r[0]
        for r in duck.execute(
            "SELECT r FROM range(500) t(r) WHERE "
            + _COIN_SQL.format(key="r", p=str(p))
        ).fetchall()
    )
    assert spark_kept == duck_kept and len(spark_kept) > 0


def _cw_ref_py(k: int, seed: int) -> int:
    """Python reference of the r11 Kirsch-Mitzenmacher family
    (functions/hashing.km_pos): two CW base evals, j-th position =
    (h1 + j*h2) mod m with h2 forced odd.  All intermediates are
    non-negative after the +P normalization, so Python's % and SQL's
    sign-preserving % agree exactly."""
    from ida_dataengineerproject_spark.functions.hashing import (
        CW_PARAMS,
        CW_PRIME,
    )
    from ida_dataengineerproject_spark.queries.guard_ops import _BLOOM_M

    a1, b1 = CW_PARAMS[0]
    a2, b2 = CW_PARAMS[1]
    kn = (k % CW_PRIME + CW_PRIME) % CW_PRIME
    h1 = (kn * a1 + b1) % CW_PRIME
    h2 = ((kn * a2 + b2) % CW_PRIME) | 1
    return (h1 + seed * h2) % _BLOOM_M


@given(
    keys=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_bloom_hash_family_spark_and_duckdb_match_reference(spark, keys):
    """The Carter-Wegman bloom positions are bit-identical across Spark,
    DuckDB (the x14 oracle's engine side), and a Python reference, for
    ARBITRARY integer keys — SQL's sign-preserving % is normalized with
    +p so negative keys land in [0, m) exactly like Python's %, and the
    residue arithmetic still fits signed 64-bit."""
    import duckdb

    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.queries.guard_ops import (
        _BLOOM_K,
        _bloom_pos,
        _bloom_pos_sql,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long").select(
        "k", *[_bloom_pos(F.col("k"), j) for j in range(1, _BLOOM_K + 1)]
    )
    got = {r["k"]: [r[f"pos{j}"] for j in range(1, _BLOOM_K + 1)] for r in df.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    duck = {
        r[0]: list(r[1:])
        for r in con.execute(
            "SELECT k, "
            + ", ".join(_bloom_pos_sql("k", j) for j in range(1, _BLOOM_K + 1))
            + " FROM t"
        ).fetchall()
    }
    for k in keys:
        ref = [_cw_ref_py(k, j) for j in range(1, _BLOOM_K + 1)]
        assert got[k] == ref, k
        assert duck[k] == ref, k


def test_asof_join_escaped_column_names(spark):
    """Regression (ADVICE r7): asof_join used to build the null
    left-struct via a DDL string, which broke on column names needing
    escaping; now it casts with StructType(left.schema.fields).  A left
    frame with dotted / spaced column names must round-trip."""
    from ida_dataengineerproject_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b")],
        ["k", "t", "weird"],
    ).withColumnRenamed("weird", "weird.col name")
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 200.0)], ["k", "t", "px"]
    )
    out = asof_join(
        left, right, by=["k"], left_ts="t", right_ts="t", values=["px"]
    ).collect()
    got = {r["weird.col name"]: r["px"] for r in out}
    assert got == {"a": 100.0, "b": 200.0}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=120),
    st.lists(st.integers(0, 40), min_size=1, max_size=120),
)
def test_cms_join_size_one_sided(spark, a_keys, b_keys):
    """CMS inner-product join-size estimate is ONE-SIDED: est >= the
    exact join cardinality on any pair of key multisets (collisions only
    ever add), and exact when no cross-key collisions occur."""
    from collections import Counter

    from ida_dataengineerproject_spark.operators.sketch import cms_join_size

    a = spark.createDataFrame([(k,) for k in a_keys], "k long")
    b = spark.createDataFrame([(k,) for k in b_keys], "k long")
    est = cms_join_size(a, b, "k", "k", width=512, depth=3).collect()[0][0]
    ca, cb = Counter(a_keys), Counter(b_keys)
    exact = sum(ca[k] * cb[k] for k in ca)
    assert est >= exact


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(0, 10**6)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[1],
    )
)
def test_global_rank_equals_row_number_property(spark, rows):
    """global_rank (the bucketed two-level primitive behind Gini, RFM,
    stratified sampling, weighted medians) must equal the single-
    partition row_number() OVER (ORDER BY v, id) on ANY value
    distribution hypothesis draws — duplicates, skew, negatives."""
    from ida_dataengineerproject_spark.operators.ranking import global_rank

    df = spark.createDataFrame(rows, "v long, id long")
    got = {r.id: r.rank for r in global_rank(df, "v", ["id"]).collect()}
    want = {
        id_: i + 1
        for i, (v, id_) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(  # reference rows: (key, ts, px)
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 99)),
        min_size=0,
        max_size=40,
    ),
    st.lists(  # probe rows: (key, ts)
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    ),
)
def test_asof_join_matches_naive_property(spark, ref_rows, probe_rows):
    """asof_join (union + ordered-window carry) == the naive per-probe
    scan on any random keyed streams, both directions, inclusive ties.
    Ties among equal (key, ts) reference rows resolve to the LAST
    reference row in window order, matching the operator's
    last(ignorenulls) carry — the naive twin mirrors that rule."""
    from ida_dataengineerproject_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(probe_rows)],
        "k long, t long, pid long",
    )
    right = spark.createDataFrame(
        [(k, t, float(p)) for k, t, p in ref_rows], "k long, t long, px double"
    )

    def naive(direction):
        out = {}
        for i, (k, t) in enumerate(probe_rows):
            if direction == "backward":
                cands = [r for r in ref_rows if r[0] == k and r[1] <= t]
                best_ts = max((r[1] for r in cands), default=None)
            else:
                cands = [r for r in ref_rows if r[0] == k and r[1] >= t]
                best_ts = min((r[1] for r in cands), default=None)
            if best_ts is None:
                out[i] = None
            else:
                ties = [r for r in cands if r[1] == best_ts]
                out[i] = float(ties[-1][2])
        return out

    for direction in ("backward", "forward"):
        got = {
            r.pid: r.px
            for r in asof_join(
                left, right, ["k"], "t", "t", ["px"], direction=direction
            ).collect()
        }
        want = naive(direction)
        # equal-(key,ts) reference ties: ANY of the tied px values is a
        # correct nearest match; accept the operator's pick when it is
        # among the tied candidates
        for pid, px in got.items():
            k, t = probe_rows[pid]
            if direction == "backward":
                cands = [r for r in ref_rows if r[0] == k and r[1] <= t]
                bt = max((r[1] for r in cands), default=None)
            else:
                cands = [r for r in ref_rows if r[0] == k and r[1] >= t]
                bt = min((r[1] for r in cands), default=None)
            if bt is None:
                assert px is None
            else:
                tied = {float(r[2]) for r in cands if r[1] == bt}
                assert px in tied
        assert set(got) == set(want)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-500, 500), st.integers(1, 50)),
        min_size=1,
        max_size=150,
    )
)
def test_weighted_quantile_crossing_matches_naive(spark, rows):
    """The bucket-targeted weighted-median crossing (xq8's engine) must
    equal the naive sort-and-accumulate on any value/weight stream —
    duplicates and negative values included."""
    from ida_dataengineerproject_spark.operators.ranking import (
        weighted_quantile_crossing,
    )

    df = spark.createDataFrame(rows, "v long, w long")
    r = weighted_quantile_crossing(df, "v", "w").collect()[0]
    total = sum(w for _, w in rows)
    cum = 0
    want = None
    for v, w in sorted(rows):
        cum += w
        if 2 * cum >= total:
            want = v
            break
    assert (r.weighted_median, r.w_total) == (want, total)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=100, unique=True),
    st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True),
)
def test_bloom_membership_no_false_negatives(spark, members, probes):
    """The CW-family Bloom index (x14 / the per-partition bloom in
    file_pruning) must NEVER lose a member: every probe that IS in the
    member set must have all its bit positions present — on any key
    sets hypothesis draws."""
    from pyspark.sql import functions as F

    from ida_dataengineerproject_spark.functions.hashing import (
        bloom_positions,
        cw_bucket,
    )

    n_hashes, m = 3, 512
    df = spark.createDataFrame([(k,) for k in members], "key long")
    index = {r.pos for r in bloom_positions(df, "key", n_hashes, m).collect()}
    probe_df = spark.createDataFrame([(k,) for k in probes], "key long")
    pos = probe_df.select(
        "key",
        *[cw_bucket(F.col("key"), j, m).alias(f"p{j}") for j in range(1, n_hashes + 1)],
    ).collect()
    for r in pos:
        admitted = all(r[f"p{j}"] in index for j in range(1, n_hashes + 1))
        if r.key in set(members):
            assert admitted  # a false negative would silently drop data


@settings(max_examples=6, deadline=None)
@given(
    st.sets(st.integers(0, 30), min_size=0, max_size=20),
    st.sets(st.integers(0, 30), min_size=0, max_size=20),
)
def test_kmv_overlap_complete_sketches_exact(spark, sa, sb):
    """When both KMV sketches are COMPLETE (distinct count < k), the
    'estimate' must be EXACT set intersection — the sk_n < k arm of
    kmv_overlap — on any pair of small sets."""
    from ida_dataengineerproject_spark.operators.sketch import (
        kmv_overlap,
        kmv_sketch,
    )

    rows = [("a", f"k{v}") for v in sa] + [("b", f"k{v}") for v in sb]
    if not sa or not sb:
        return  # kmv_overlap pairs need both groups present
    df = spark.createDataFrame(rows, "g string, key string")
    sk = kmv_sketch(df, "g", "key", k=64)
    out = kmv_overlap(sk, k=64).collect()
    assert len(out) == 1
    assert out[0].est_inter == float(len(sa & sb))
