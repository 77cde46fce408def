"""Property-based tests (hypothesis): random inputs vs pure-Python
reference implementations for the semantics most likely to drift —
session-window merging, top-K tie ordering, tokenizer boundaries.

The reference suite has no property tests (SURVEY §5); these go beyond
it. ``derandomize=True`` keeps runs reproducible; example counts stay
small because every example is a Spark job.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from beam_scala_examples_spark.operators.topk import top_k_per_key

SETTINGS = dict(max_examples=10, deadline=None, derandomize=True)

GAP_S = 10


def _py_sessions(ts_list: list[int], gap: int) -> list[list[int]]:
    """Reference session merge: a new session starts when the gap to the
    previous event is >= gap (Spark's session window end is exclusive)."""
    out: list[list[int]] = []
    for t in sorted(ts_list):
        if out and t < out[-1][-1] + gap:
            out[-1].append(t)
        else:
            out.append([t])
    return out


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120)), min_size=1, max_size=30
    )
)
@settings(**SETTINGS)
def test_session_window_matches_python_reference(spark, events):
    rows = [
        (u, datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None))
        for u, t in events
    ]
    df = spark.createDataFrame(rows, "user long, ts timestamp")
    got = {
        (r["user"], r["sw"]["start"].second + r["sw"]["start"].minute * 60, r["n"])
        for r in df.groupBy(
            F.session_window("ts", f"{GAP_S} seconds").alias("sw"), "user"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    expected = set()
    for u in {u for u, _ in events}:
        for sess in _py_sessions([t for uu, t in events if uu == u], GAP_S):
            expected.add((u, sess[0] % 3600, len(sess)))
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_top_k_per_key_matches_python_reference(spark, rows, k):
    df = spark.createDataFrame(rows, "key long, a long, b long")
    got = sorted(
        tuple(r)
        for r in top_k_per_key(df, ["key"], [F.desc("a"), F.asc("b")], k)
        .select("key", "a", "b")
        .collect()
    )
    expected = []
    for key in {r[0] for r in rows}:
        mine = sorted(
            (r for r in rows if r[0] == key), key=lambda r: (-r[1], r[2])
        )
        expected.extend(mine[:k])
    # row_number dedupes ties arbitrarily within equal (a, b) — compare as
    # sorted multisets of the surviving (key, a, b) triples
    assert got == sorted(expected)


TOKEN_RE = re.compile(r"[^a-zA-Z]+")


@given(
    lines=st.lists(
        st.text(alphabet="abc XYZ.,;!1", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_tokenizer_matches_python_reference(spark, lines):
    from beam_scala_examples_spark.operators.text import tokenize

    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    got = sorted(r["word"] for r in tokenize(df, "text").collect())
    expected = sorted(
        w for ln in lines for w in TOKEN_RE.split(ln) if w != ""
    )
    assert got == expected


WIN_S, SLIDE_S = 30, 10


@given(
    events=st.lists(st.integers(0, 200), min_size=1, max_size=30)
)
@settings(**SETTINGS)
def test_sliding_window_matches_python_reference(spark, events):
    """F.window(ts, win, slide): each event lands in exactly
    win/slide overlapping windows whose starts are the slide-aligned
    marks in (t - win, t]."""
    rows = [
        (datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None),)
        for t in events
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {
        (r["w"]["start"].minute * 60 + r["w"]["start"].second, r["n"])
        for r in df.groupBy(
            F.window("ts", f"{WIN_S} seconds", f"{SLIDE_S} seconds").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    from collections import Counter
    counts: Counter = Counter()
    for t in events:
        start = (t // SLIDE_S) * SLIDE_S  # latest window start containing t
        for k in range(WIN_S // SLIDE_S):
            s = start - k * SLIDE_S
            if s >= 0 or s + WIN_S > 0:  # windows may start before epoch
                if s <= t < s + WIN_S:
                    counts[s] += 1
    expected = {(s % 3600, n) for s, n in counts.items()}
    assert got == expected


def test_shingles_handle_short_documents(spark):
    """Documents of < 3 tokens must yield empty shingle arrays, not an
    ANSI array-index crash (Spark's sequence(0, -1) counts DOWN)."""
    from beam_scala_examples_spark.queries.llmdata import (
        _SPARK_SHINGLES,
        _SPARK_TOKS,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
        .select("doc_id", F.expr(_SPARK_SHINGLES).alias("sh"))
        .collect()
    }
    assert rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4] == ["one two three"]


def test_connected_components_chain_logarithmic_rounds(spark):
    """A diameter-100 chain must resolve to one component in O(log d)
    shuffle rounds — the pointer-jumping bound that protects the 100 TB
    posture when near-dup clusters chain (propagation alone would take
    100 rounds)."""
    from beam_scala_examples_spark.operators.graph import connected_components

    n = 100
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc1 long, doc2 long"
    )
    labels, rounds = connected_components(chain)
    got = {(r.doc_id, r.component) for r in labels.collect()}
    labels.unpersist()
    assert got == {(i, 0) for i in range(n + 1)}
    assert rounds <= 12, f"expected O(log diameter) rounds, took {rounds}"


def test_connected_components_mixed_graph(spark):
    """Disjoint components, a star, and a cycle all label to their min id."""
    from beam_scala_examples_spark.operators.graph import connected_components

    edges = (
        [(10, i) for i in (11, 12, 13)]          # star at 10
        + [(20, 21), (21, 22), (22, 20)]         # cycle
        + [(30, 31)]                             # isolated pair
    )
    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    labels, _ = connected_components(df)
    got = {(r.doc_id, r.component) for r in labels.collect()}
    labels.unpersist()
    assert got == (
        {(i, 10) for i in (10, 11, 12, 13)}
        | {(i, 20) for i in (20, 21, 22)}
        | {(i, 30) for i in (30, 31)}
    )


def test_connected_components_job_count(spark, count_jobs):
    """The mixed graph resolves in at most 17 Spark jobs (27 before the
    fused first round, the observed convergence count and the lazy edge
    layout): each job is a fixed 25-40 ms at this scale."""
    from beam_scala_examples_spark.operators.graph import connected_components

    edges = (
        [(10, i) for i in (11, 12, 13)]
        + [(20, 21), (21, 22), (22, 20)]
        + [(30, 31)]
    )
    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    (labels, rounds), jobs = count_jobs(lambda: connected_components(df))
    assert labels.count() == 9 and rounds == 2
    assert 0 < jobs <= 17, f"{jobs} jobs"


def test_connected_components_empty_pairs(spark):
    """No pairs: 0 labels in 1 round — the round's convergence
    ``Observation`` still fires on an empty checkpoint, so the loop
    neither blocks nor spins."""
    import threading

    from beam_scala_examples_spark.operators.graph import connected_components

    df = spark.createDataFrame([], "doc1 long, doc2 long")
    out: dict = {}
    t = threading.Thread(
        target=lambda: out.update(res=connected_components(df)), daemon=True
    )
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "connected_components blocked on empty pairs"
    labels, rounds = out["res"]
    assert labels.count() == 0 and rounds == 1


def test_stateful_rounding_matches_spark_round(spark):
    """The streaming fold's rounding must equal Spark F.round on the
    .xx5 double boundaries where Python round() (banker's) and raw
    binary scaling both diverge."""
    from beam_scala_examples_spark.streaming.stateful import _round2_half_away

    cases = [1.005, 8.165, 1.255, 10.075, 2.675, -1.005, 0.125, 7.0, 3.14159]
    df = spark.createDataFrame([(x,) for x in cases], "x double").select(
        F.round("x", 2).alias("r")
    )
    spark_r = [row.r for row in df.collect()]
    py_r = [_round2_half_away(x) for x in cases]
    assert py_r == spark_r


def test_q09_ignores_null_rows(spark, tmp_path):
    """q09's pack-bounds guard must treat NULL value/event_id as absent
    data (ignored by the arg-max), not a bounds violation."""
    from beam_scala_examples_spark.queries.traffic import q09_max_lane_flow

    rows = [
        (1, "2024-01-01 10:00:00", 1, "A", 5.0),
        (None, "2024-01-01 10:00:01", 1, "A", 9.0),   # null event_id
        (3, "2024-01-01 10:00:02", 1, "A", None),     # null value
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/events.parquet")
    out = q09_max_lane_flow(spark, sf)
    # only the non-null row can win; the job must not abort
    winners = {(r.station, r.max_flow, r.event_id) for r in out.collect()}
    assert winners == {(1, 5.0, 1)}


def test_dedup_incremental_exact_beats_near(spark, tmp_path):
    """Planted-fixture check of the branch the synthetic corpus never
    exercises: a new doc whose text exactly matches a corpus doc must
    report method='exact' with the MIN matching corpus id and a null
    jaccard, even though its shingle overlap would also clear the
    near-dup threshold; a merely-similar doc reports 'near'; an
    unrelated doc reports 'unique'."""
    from beam_scala_examples_spark.queries.llmdata import dedup_incremental

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [
        # corpus (doc_id % 10 != 7); two identical corpus docs: min wins
        (3, base, "en", "src0", len(base)),
        (13, base, "en", "src0", len(base)),
        (23, near, "en", "src0", len(near)),
        (33, "totally different words entirely unrelated content here",
         "en", "src0", 52),
        # new batch (doc_id % 10 == 7)
        (7, base, "en", "src1", len(base)),      # exact dup of 3 (not 13)
        (17, near + " extra", "en", "src1", 5),  # near dup, not exact
        (27, "nothing shares any shingle with corpus text at all",
         "en", "src1", 49),                      # unique
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.dup_of, r.method, r.jaccard)
        for r in dedup_incremental(spark, str(tmp_path)).collect()
    }
    assert got[7] == (3, "exact", None)
    assert got[17][1] == "near" and got[17][0] == 23 and got[17][2] > 0.3
    assert got[27] == (None, "unique", None)


def test_pagerank_rounds_do_not_reshuffle_edges(spark):
    """The iterate-on-the-small-side contract: after the setup
    repartition+persist, a round's contribution join must reuse the
    edge list's in-memory partitioning — the only runtime-required
    exchange (ENSURE_REQUIREMENTS) is the O(nodes) rank side; the
    persisted edges and the degree aggregate ride the cache's
    REPARTITION_BY_COL partitioning with no re-shuffle."""
    import re as _re

    from pyspark.sql import functions as F

    from beam_scala_examples_spark.operators.graph import pagerank_int

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    pairs = [(i, i + 1) for i in range(50)] + [(i + 1, i) for i in range(50)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    e = edges.repartition("src").persist()
    try:
        e.count()
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        ranks = deg.select(F.col("src").alias("node")).withColumn(
            "rank", F.lit(10**9).cast("long")
        ).localCheckpoint(eager=True)
        per_src = ranks.withColumnRenamed("node", "src").join(deg, "src") \
            .select("src", F.expr("rank DIV deg").alias("c"))
        plan = e.join(per_src, "src")._jdf.queryExecution() \
            .executedPlan().toString()
        ensure = _re.findall(
            r"Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS",
            plan,
        )
        assert len(ensure) == 1, plan  # rank side only; edges never re-shuffle
        assert "InMemoryTableScan" in plan

        # end-to-end mass invariant: integer floors only lose mass, so
        # 0 < sum(rank) <= N * scale after any number of rounds
        n = 51
        total = pagerank_int(edges, 3).agg(F.sum("rank")).first()[0]
        assert 0 < total <= n * 10**9
    finally:
        e.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_simhash_band_recall_is_exhaustive(spark):
    """Pigeonhole guarantee of the Hamming-LSH banding: for random
    60-bit signatures, the (band, bucket) candidate join finds EVERY
    pair within Hamming distance 3 — banding prunes candidates, never
    true pairs."""
    import itertools
    import random

    from beam_scala_examples_spark.queries.llmdata import (
        SIMHASH_HAMMING_MAX,
        SIMHASH_PAIR_BANDS,
        SIMHASH_PAIR_BITS,
    )

    rng = random.Random(7)
    base = [rng.getrandbits(SIMHASH_PAIR_BITS) for _ in range(30)]
    # plant near-dups: flip 0-3 random bits of existing signatures
    sigs = list(base)
    for s in base[:10]:
        flipped = s
        for b in rng.sample(range(SIMHASH_PAIR_BITS), rng.randint(0, 3)):
            flipped ^= 1 << b
        sigs.append(flipped)

    width = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
    mask = (1 << width) - 1

    def bands(s):
        return {(b, (s >> (b * width)) & mask) for b in range(SIMHASH_PAIR_BANDS)}

    truth = {
        (i, j)
        for i, j in itertools.combinations(range(len(sigs)), 2)
        if bin(sigs[i] ^ sigs[j]).count("1") <= SIMHASH_HAMMING_MAX
    }
    candidates = {
        (i, j)
        for i, j in itertools.combinations(range(len(sigs)), 2)
        if bands(sigs[i]) & bands(sigs[j])
    }
    assert truth <= candidates


def test_candidate_pair_layer_matches_brute_force(spark):
    """``operators/pairs.py`` against a Python brute force on a
    hand-made (id, key) relation: a bucket of three ids, ids in two
    buckets, a singleton bucket and a duplicated row.  ``self_pairs``
    yields one row per same-key row pair with ``a.id < b.id`` (never
    (x, x), never both orders); ``overlap_pairs`` counts distinct
    shared keys and each side's set size; ``hamming_bands`` splits a
    signature's bits as Python does."""
    import itertools
    import random

    from beam_scala_examples_spark.operators.pairs import (
        hamming_bands,
        overlap_pairs,
        self_pairs,
    )

    rows = [(1, "x"), (2, "x"), (3, "x"), (1, "y"), (3, "y"), (4, "y"),
            (5, "z"), (2, "x")]
    rel = spark.createDataFrame(rows, "id long, key string")

    got = [
        (r[0], r[1])
        for r in self_pairs(rel, "key", "id").select("a.id", "b.id").collect()
    ]
    joined = [
        (i, j)
        for (i, k), (j, m) in itertools.product(rows, rows)
        if k == m and i < j
    ]
    assert sorted(got) == sorted(joined)
    assert all(i < j for i, j in got)

    sets: dict[int, set[str]] = {}
    for i, k in rows:
        sets.setdefault(i, set()).add(k)
    expected = [
        (i, j, len(sets[i] & sets[j]), len(sets[i]), len(sets[j]))
        for i, j in itertools.combinations(sorted(sets), 2)
        if sets[i] & sets[j]
    ]
    ov = overlap_pairs(rel, "key", "id")
    assert ov.columns == ["id1", "id2", "shared", "n1", "n2"]
    assert sorted(tuple(r) for r in ov.collect()) == expected

    rng = random.Random(3)
    sigs = [(i, rng.getrandbits(60)) for i in range(6)]
    banded = hamming_bands(
        spark.createDataFrame(sigs, "id long, sig long"), "sig", 4, 15
    )
    assert sorted(tuple(r) for r in banded.collect()) == sorted(
        (i, s, b, (s >> (15 * b)) & 0x7FFF) for i, s in sigs for b in range(4)
    )


def test_prefix_filter_recall_is_lossless(spark):
    """Prefix lemma (All-Pairs/PPJoin): under a shared total token
    order, every pair with Jaccard >= 0.7 shares a token within the
    first n - ceil(0.7 n) + 1 tokens of each set — the engine's
    rarest-first prefix join can prune candidates, never true pairs."""
    import itertools
    import random

    rng = random.Random(11)
    universe = list(range(200))
    sets = []
    for _ in range(40):
        base = rng.sample(universe, rng.randint(4, 30))
        sets.append(set(base))
        # plant a near-dup: drop up to 2 elements
        twin = set(base)
        for x in rng.sample(base, min(2, len(base) - 1)):
            if rng.random() < 0.7:
                twin.discard(x)
        sets.append(twin)

    # shared total order = (global frequency, token) as in the engine
    freq = {}
    for s in sets:
        for x in s:
            freq[x] = freq.get(x, 0) + 1

    def prefix(s):
        n = len(s)
        plen = n - ((7 * n + 9) // 10) + 1
        return set(sorted(s, key=lambda x: (freq[x], x))[:plen])

    for s1, s2 in itertools.combinations(sets, 2):
        if not s1 or not s2:
            continue
        inter = len(s1 & s2)
        j = inter / (len(s1) + len(s2) - inter)
        if j >= 0.7:
            assert prefix(s1) & prefix(s2), (s1, s2, j)


def test_bloom_screen_has_no_false_negatives(spark):
    """Bloom membership is one-sided: an element inserted into the bit
    set is ALWAYS flagged by the K-probe check (false positives allowed,
    false negatives never) — the property the contamination pre-screen
    relies on.  Pure-Python twin of the engine's md5-slice positions."""
    import hashlib
    import random

    from beam_scala_examples_spark.queries.llmdata import BLOOM_BITS, BLOOM_K

    def positions(s):
        h = hashlib.md5(s.encode()).hexdigest()
        return [int(h[8 * i : 8 * i + 8], 16) % BLOOM_BITS for i in range(BLOOM_K)]

    rng = random.Random(3)
    train = [f"shingle {rng.randrange(10**9)}" for _ in range(5000)]
    bits = {p for s in train for p in positions(s)}
    assert all(all(p in bits for p in positions(s)) for s in train)


def test_md5_slices_match_hashlib(spark):
    """The disjoint-slice family behind the Bloom screen and the
    count-min sketches: Spark's ``md5_slices`` and DuckDB's
    ``duck_md5_slice`` both equal the ``hashlib`` twin — row ``r`` is
    hex digits ``8r+1 .. 8r+8`` of the md5 modulo the width — on random
    strings, non-ASCII and empty ones included."""
    import hashlib
    import random

    import duckdb

    from beam_scala_examples_spark.operators.sketches import (
        duck_md5_slice,
        md5_slices,
    )

    rng = random.Random(11)
    words = ["", "é", "中文 token"] + [
        "".join(rng.choice("ab xyzé中") for _ in range(rng.randrange(1, 16)))
        for _ in range(300)
    ]
    docs = spark.createDataFrame([(w,) for w in words], "s string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(w,) for w in words])
    for depth, mod in ((3, 16), (3, 64), (3, 65536)):
        hexes = {w: hashlib.md5(w.encode()).hexdigest() for w in words}
        want = sorted(
            (w, r, int(hexes[w][8 * r: 8 * r + 8], 16) % mod)
            for w in words
            for r in range(depth)
        )
        got = sorted(
            tuple(row)
            for row in docs.withColumn("__s", F.md5("s"))
            .select("s", F.explode(md5_slices("__s", depth, mod)).alias("p"))
            .select("s", "p.r", "p.b")
            .collect()
        )
        assert got == want, (depth, mod)
        duck = sorted(
            row
            for r in range(depth)
            for row in con.execute(
                f"SELECT s, {r}, {duck_md5_slice('s', r, mod)} FROM t"
            ).fetchall()
        )
        assert duck == want, (depth, mod)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_banded_skyline_equals_brute_force(spark, pts):
    """The two-level banded skyline (queries/relational.py::_skyline_keep)
    returns exactly the non-dominated set on arbitrary integer points —
    including duplicate points, total ties on one axis, and band
    boundaries (band width 7 over x in [0, 50] forces multi-band runs)."""
    from beam_scala_examples_spark.queries.relational import _skyline_keep

    rows = [
        (i, x, y) for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "id long, revenue_cents long, worst_lag_days long"
    )
    banded = df.withColumn("band", F.expr("revenue_cents div 7"))
    survivors = _skyline_keep(banded, banded=True).drop("band")
    got = {
        r.id for r in _skyline_keep(survivors, banded=False).collect()
    }
    expected = {
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            (x2 >= x and y2 <= y) and (x2 > x or y2 < y)
            for (x2, y2) in pts
        )
    }
    assert got == expected


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=1, max_size=15,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=0, max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_reference(spark, left, right):
    """Both directions x both strictness modes of the as-of join equal
    the O(n^2) Python reference on random keyed timestamps — including
    equal-timestamp ties (tiebreak: highest right id) and keys with no
    match."""
    from datetime import datetime, timezone

    from beam_scala_examples_spark.operators.asof import asof_join

    def ts(t):
        return datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None)

    ldf = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(left)],
        "lid long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(i, k, ts(t)) for i, (k, t) in enumerate(right)],
        "rid long, k long, ts timestamp",
    )
    for direction in ("backward", "forward"):
        for strict in (True, False):
            out = asof_join(
                ldf, rdf, on=["k"], left_ts="ts", right_ts="ts",
                payload={"rid": "m_rid"}, strict=strict,
                tiebreak="rid", direction=direction,
            )
            got = {r.lid: r.m_rid for r in out.collect()}
            expected = {}
            for i, (k, t) in enumerate(left):
                if direction == "backward":
                    cand = [
                        (rt, j) for j, (rk, rt) in enumerate(right)
                        if rk == k and (rt < t if strict else rt <= t)
                    ]
                    # latest ts wins; tie -> highest rid
                    pick = max(cand) if cand else None
                else:
                    cand = [
                        (rt, j) for j, (rk, rt) in enumerate(right)
                        if rk == k and (rt > t if strict else rt >= t)
                    ]
                    # earliest ts wins; tie -> highest rid
                    pick = min((rt, -j) for rt, j in cand) if cand else None
                    pick = (pick[0], -pick[1]) if pick else None
                expected[i] = pick[1] if pick else None
            assert got == expected, (direction, strict)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 4095), st.integers(0, 4095)),
        min_size=1, max_size=50,
    )
)
@settings(**SETTINGS)
def test_zorder_key_matches_python_interleave(spark, pts):
    """The codegen Morton key equals the Python bit-interleave reference
    (hence injective over the bit range: distinct (x, y) -> distinct
    keys)."""
    from beam_scala_examples_spark.io import zorder_key

    df = spark.createDataFrame(pts, "x long, y long")
    got = [
        r.z for r in df.select(
            zorder_key(F.col("x"), F.col("y"), bits=12).alias("z")
        ).collect()
    ]

    def ref(x, y):
        z = 0
        for i in range(12):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    # row order is preserved for a local createDataFrame -> select
    assert got == [ref(x, y) for x, y in pts]


def test_table_diff_identity_and_disjoint(spark, sf_dir):
    """diff(x, x) is all-unchanged; diff against an empty right is
    all-removed — the two boundary cases of the reconciliation op."""
    from beam_scala_examples_spark.io import table_diff
    from beam_scala_examples_spark.tables import load

    x = load(spark, sf_dir, "region")
    same = table_diff(x, x, ["r_regionkey"])
    assert {r.status for r in same.collect()} == {"unchanged"}
    empty = x.filter("1 = 0")
    gone = table_diff(x, empty, ["r_regionkey"])
    assert {r.status for r in gone.collect()} == {"removed"}


def test_component_split_has_zero_neardup_leakage(spark, sf_dir):
    """data_split_by_component's defining property: NO near-dup pair
    (the same Jaccard pair relation the components were built from)
    crosses a split boundary — the contamination data_split_leakage
    measures on the naive per-doc split is structurally zero here.
    Also pins that the naive split DOES cross on this corpus, so the
    property is non-vacuous."""
    from beam_scala_examples_spark.queries.llmdata import (
        data_split_assign,
        data_split_by_component,
        dedup_jaccard_pairs,
    )

    pairs = dedup_jaccard_pairs(spark, sf_dir).select("doc1", "doc2")
    assert pairs.count() > 0

    def crossing(split_df):
        s1 = split_df.select(
            F.col("doc_id").alias("doc1"), F.col("split").alias("s1")
        )
        s2 = split_df.select(
            F.col("doc_id").alias("doc2"), F.col("split").alias("s2")
        )
        return (
            pairs.join(s1, "doc1")
            .join(s2, "doc2")
            .filter("s1 <> s2")
            .count()
        )

    assert crossing(data_split_by_component(spark, sf_dir)) == 0
    assert crossing(data_split_assign(spark, sf_dir)) > 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 500),    # ordering key (dups allowed -> ties)
            st.integers(0, 3),      # partition
            st.integers(-5, 20),    # value
        ),
        min_size=1,
        max_size=60,
    ),
    span=st.integers(1, 64),
)
@settings(**SETTINGS)
def test_sharded_prefix_sum_property(spark, rows, span):
    """operators/carry.py vs a pure-Python running sum, under random
    keys (including duplicate order keys within a shard), random skew,
    and random shard spans.  Duplicate (part, key) pairs are summed
    identically by both (window ROWS frames see them in storage order,
    so we disambiguate with a unique tiebreak column the way every
    production caller does)."""
    from beam_scala_examples_spark.operators.carry import (
        sharded_prefix_sum,
    )

    data = [(i, k, p, v) for i, (k, p, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "uid bigint, k bigint, part bigint, v bigint"
    )
    got = {
        r.uid: r.cum
        for r in sharded_prefix_sum(
            df,
            part="part",
            order=["k", "uid"],
            shard=F.expr(f"k div {span}"),
            val="v",
            out="cum",
        ).collect()
    }
    # pure-Python reference: strict prefix sum in (k, uid) order per part
    by_part: dict = {}
    for uid, k, p, v in data:
        by_part.setdefault(p, []).append((k, uid, v))
    expect = {}
    for p, lst in by_part.items():
        acc = 0
        for k, uid, v in sorted(lst):
            expect[uid] = acc
            acc += v
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 4),      # doc_id (few docs -> real whales)
            st.integers(0, 300),    # duplicated span index j
        ),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    span=st.integers(1, 64),
)
@settings(**SETTINGS)
def test_sharded_islands_runs_property(spark, rows, span):
    """The dedup_span_runs islands pass vs a pure-Python run grouping,
    under random (doc, span-index) sets and random shard spans —
    including runs that straddle shard boundaries.  The sharded
    row_number must produce exactly the naive gaps-and-islands run
    table (per doc: every maximal consecutive-index run with its
    length)."""
    from beam_scala_examples_spark.operators.carry import (
        sharded_row_number,
    )

    df = spark.createDataFrame(rows, "doc_id bigint, j bigint")
    got = sorted(
        (r.doc_id, r.run_spans)
        for r in sharded_row_number(
            df,
            part="doc_id",
            order=["j"],
            shard=F.expr(f"j div {span}"),
            out="rn",
        )
        .withColumn("grp", F.col("j") - F.col("rn"))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("run_spans"))
        .collect()
    )
    # pure-Python reference: split each doc's sorted indices into
    # maximal consecutive runs
    by_doc: dict = {}
    for d, j in rows:
        by_doc.setdefault(d, []).append(j)
    expect = []
    for d, js in by_doc.items():
        js.sort()
        run = 1
        for a, b in zip(js, js[1:]):
            if b == a + 1:
                run += 1
            else:
                expect.append((d, run))
                run = 1
        expect.append((d, run))
    assert got == sorted(expect)


def test_winnow_regions_locate_planted_copy(spark):
    """Round 6: winnow_regions_relation must report WHERE a planted
    copy sits in both documents — start offsets at gram precision and a
    token length covering the copied run — and must not fuse two copies
    separated by fresh text into one region."""
    from beam_scala_examples_spark.queries.llmdata import (
        K_WINNOW,
        winnow_regions_relation,
    )

    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(10_000)}x{i}" for i in range(120)]
    doc_a = " ".join(words)
    # doc_b: 15 fresh tokens, then tokens 20..59 of doc_a (a 40-token
    # copy), 25 fresh, then tokens 80..109 (a 30-token copy), 5 fresh.
    fresh = [f"f{rng.randrange(10_000)}y{i}" for i in range(60)]
    doc_b_toks = (
        fresh[:15] + words[20:60] + fresh[15:40] + words[80:110] + fresh[40:45]
    )
    docs = spark.createDataFrame(
        [(1, doc_a), (2, " ".join(doc_b_toks))], "doc_id long, text string"
    )
    regions = sorted(
        tuple(r) for r in winnow_regions_relation(docs).collect()
    )
    assert len(regions) == 2, regions
    (r1, r2) = regions
    # copy 1: grams 20..(60-K) of doc_a align with grams 15..(55-K) of
    # doc_b; winnowing selects within the copy, so starts land inside
    # the copied gram range and the length covers most of 40 tokens.
    for (da, db, sa, sb, ln, np_), (a_lo, a_hi, b_lo, copy_len) in zip(
        regions, ((20, 60 - K_WINNOW, 15, 40), (80, 110 - K_WINNOW, 80, 30))
    ):
        assert (da, db) == (1, 2)
        assert a_lo <= sa <= a_hi
        assert sb - b_lo == sa - a_lo  # same alignment diagonal
        assert ln <= copy_len         # never claims more than the copy
        assert ln >= copy_len - 2 * (K_WINNOW + 4)  # covers its bulk
        assert np_ >= 2


def _vbin_py(q: int) -> tuple[int, int]:
    """Pure-Python mirror of the dq.vbin_partial_counts binning (sign,
    vbin) — msb via bit length, top-2 mantissa bits sub-bin."""
    if q == 0:
        return 0, 0
    sign = -1 if q < 0 else 1
    v = abs(q)
    msb = v.bit_length() - 1
    sub = ((v * 4) >> msb) - 4
    return sign, 4 * msb + sub


def _vbin_bounds_py(vbin: int) -> tuple[int, int]:
    """Inclusive magnitude bounds of a bin — the _VBIN_LO_U/_VBIN_HI_U
    ceil forms."""
    msb, sub = vbin // 4, vbin % 4
    lo = ((4 + sub) * (1 << msb) + 3) // 4
    hi = ((5 + sub) * (1 << msb) + 3) // 4 - 1
    return lo, hi


@given(st.integers(min_value=-(2**52), max_value=2**52))
@settings(max_examples=500, deadline=None)
def test_vbin_binning_partitions_integers(q):
    """Round-7 quantile-sketch law (pure Python, no Spark): every
    quantized value lands in exactly one bin whose inclusive bounds
    contain its magnitude, and the bin's relative width respects the
    gamma = 2^(1/4) design bound (hi/lo <= ~1.26 beyond the unit
    bins) — so a quantile answered from bin bounds is within the
    documented relative error."""
    sign, vbin = _vbin_py(q)
    if q == 0:
        assert (sign, vbin) == (0, 0)
        return
    assert sign == (1 if q > 0 else -1)
    lo, hi = _vbin_bounds_py(vbin)
    assert lo <= abs(q) <= hi, (q, vbin, lo, hi)
    # neighbours don't overlap: value just outside lands elsewhere
    if abs(q) == lo and lo > 1:
        s2, b2 = _vbin_py((lo - 1) * sign)
        assert b2 != vbin
    if abs(q) == hi:
        s3, b3 = _vbin_py((hi + 1) * sign)
        assert b3 != vbin
    # gamma bound: 4 sub-bins per octave => hi/lo <= 2^(1/4) rounded up
    if lo >= 4:
        assert hi * 100 <= lo * 126, (vbin, lo, hi)


def test_vbin_spark_matches_python_mirror(spark):
    """The Spark binning expressions produce exactly the Python-mirror
    bins over a boundary-heavy value grid (powers of two, sub-bin
    edges, negatives, zero)."""
    from beam_scala_examples_spark.queries.dq import vbin_partial_counts

    qs = {0, 1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17}
    for e in (5, 10, 20, 40):
        base = 1 << e
        qs.update({base - 1, base, base + 1, base * 3 // 2, base * 7 // 4})
    vals = sorted(qs | {-q for q in qs})
    df = spark.createDataFrame(
        [(float(q) / 10**6,) for q in vals], "value double"
    )
    got = {
        (r.sign, r.vbin): r.cnt
        for r in vbin_partial_counts(df, "value").collect()
    }
    expect: dict = {}
    for q in vals:
        k = _vbin_py(q)
        expect[k] = expect.get(k, 0) + 1
    assert got == expect


# ---------------------------------------------------------------------------
# Memo-lifecycle property (round-9 verdict item 4): the winnow / NB /
# DSIR session memos are load-bearing for ~10 queries; one test pins
# rebuild bit-identity but nothing tested INTERLEAVING — build, clear,
# partial rebuild, consumer mix.  The property: after ANY sequence of
# consumer calls and memo clears, every consumer's result equals its
# memo-free build (captured once per session from a cold start).
# ---------------------------------------------------------------------------

_MEMO_CONSUMERS = [
    "text_winnow_coverage",        # winnow_prints/prints
    "text_quality_nb_classify",    # nb_classifier/preds
    "sample_dsir_weights",         # dsir_weights/weights + dsir_counts/batch
    "sample_dsir_resample",        # consumes the weight memo
    "star_copurchase_assortativity",  # lpa_edges/edges
]

_memo_truth: dict[str, list] = {}


def _memo_result(spark, sf_dir, name):
    from beam_scala_examples_spark.queries import QUERIES

    return sorted(
        tuple(r) for r in QUERIES[name](spark, sf_dir).collect()
    )


@given(
    ops=st.lists(
        st.one_of(
            st.sampled_from(_MEMO_CONSUMERS).map(lambda n: ("run", n)),
            st.just(("clear", None)),
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None, derandomize=True)
def test_memo_lifecycle_interleaving(spark, sf_dir, ops):
    """Random consumer/clear interleavings never change any consumer's
    result vs its memo-free (cold) build."""
    from beam_scala_examples_spark.session import clear_session_memos

    if not _memo_truth:
        clear_session_memos()
        for n in _MEMO_CONSUMERS:
            _memo_truth[n] = _memo_result(spark, sf_dir, n)
            clear_session_memos()

    clear_session_memos()
    for op, name in ops:
        if op == "clear":
            clear_session_memos()
        else:
            got = _memo_result(spark, sf_dir, name)
            assert got == _memo_truth[name], (
                f"{name} diverged from its memo-free build after {ops}"
            )
    clear_session_memos()
