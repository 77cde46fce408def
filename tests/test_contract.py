"""Driver-contract self-test: ``__spark_entry__`` is the runtime surface
the harness consumes — pin its shape so a refactor cannot silently break
the gate (keys drift, a query stops returning a DataFrame, the flagship
entry changes schema).
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import DataFrame

_SPEC = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
)
assert _SPEC is not None
entry_mod = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(entry_mod)


def test_every_query_has_matching_oracle_keys():
    qs = entry_mod.queries()
    oracle = entry_mod.oracle_sql()
    assert set(oracle) == set(qs), (
        "oracle_sql() keys must exactly match queries() keys"
    )
    assert len(qs) >= 56


def test_entry_returns_dataframe_with_stable_schema(spark):
    import pytest

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("entry() reads the driver's fixed sf0.001 path")
    df = entry_mod.entry(spark)
    assert isinstance(df, DataFrame)
    assert df.columns == ["doc_id", "word", "tfidf"]


def test_queries_accept_bare_session(spark, sf_dir):
    """The driver hands a BARE session; the query wrapper must re-apply
    the engine confs per call. Un-set every conf of the session table
    first so the test actually catches a dropped _configure or a conf
    it misses (the shared fixture session already has them), and
    restore the fixture's values afterwards."""
    from beam_scala_examples_spark.session import BATCH_WIDTH_CONF, SQL_CONFS

    keys = [*SQL_CONFS, BATCH_WIDTH_CONF]
    kept = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.unset(k)
    try:
        qs = entry_mod.queries()
        df = qs["q01_minimal_wordcount"](spark, sf_dir)
        assert isinstance(df, DataFrame)
        assert df.count() > 0  # nanos parquet readable again
        for k, v in SQL_CONFS.items():
            assert spark.conf.get(k, None) == v, k
        assert spark.conf.get(BATCH_WIDTH_CONF) == str(
            spark.sparkContext.defaultParallelism
        )
    finally:
        for k, v in kept.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bench_headline_names_are_registered():
    """Every bench.py HEADLINE name must be a registered query — a typo
    here would crash the driver's per-round benchmark run."""
    import bench

    from beam_scala_examples_spark.queries import QUERIES

    missing = [q for q in bench.HEADLINE if q not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench names"


def test_band_gate_trips_on_deliberate_slowdown():
    """The round-5 per-query regression gate: a query that doubles AND
    loses >0.25 s absolute is flagged by name; sub-second noise and
    unrecorded (new) queries are not.  Simulates the scratch-branch
    slowdown the gate exists to catch, without re-running the bench."""
    import bench

    bands = {
        "sf": 0.1,
        "anchor_r01_shared_total": 13.0,
        "queries": {"slow_one": 1.0, "tiny": 0.05, "steady": 2.0},
    }
    timings = {
        "slow_one": 5.0,   # 5x and +4 s -> violation
        "tiny": 0.2,       # 4x but only +0.15 s -> noise, not flagged
        "steady": 2.1,     # within band
        "brand_new": 9.9,  # no recorded band -> never a violation
    }
    v = bench.band_violations(timings, bands)
    assert v == {"slow_one": [1.0, 5.0]}
    assert bench.band_violations(timings, None) == {}
    assert not bench.anchor_regressed(14.0, bands)
    assert bench.anchor_regressed(27.0, bands)
    assert not bench.anchor_regressed(27.0, None)


def test_band_gate_is_drift_proof():
    """Round-10 verdict item 2: a deliberately dirty/cold replay must
    produce ZERO false flags while an injected slowdown in one query
    still trips.

    (a) Uniform host drift: every query 2.2x its band because the host
    is 2.2x slower (anchor moved identically) -> the anchor-normalized
    gate cancels it (drift capped at DRIFT_CAP).
    (b) Warmth: a codebook-cold measurement is never judged against a
    codebook-warm band — it lands in warmth_skipped instead.
    (c) A genuine 2x+ regression (anchor flat, same warmth) trips."""
    import bench

    warm = bench.warmth_sig({"warm": {"trained_codebooks": 2}, "built": {}})
    cold = bench.warmth_sig({"warm": {}, "built": {"trained_codebooks": 2}})
    assert warm != cold and bench.warmth_sig(None) == ""

    bands = {
        "sf": 0.1,
        "anchor_r01_shared_total": 10.0,
        "queries": {"ann": 2.0, "steady": 1.0},
        "warmth": {"ann": warm, "steady": ""},
    }
    # (a) uniformly slow host: everything 2.2x, anchor too -> no flags
    slow_host = {"ann": 4.4, "steady": 2.2}
    ms_warm = {"ann": {"warm": {"trained_codebooks": 2}, "built": {}}}
    assert bench.band_violations(slow_host, bands, ms_warm, 22.0) == {}
    # (b) codebook-cold replay of ann (trained inside its timed run):
    # 3x the warm band on a quiet host -> adjudicated out, not flagged
    ms_cold = {"ann": {"warm": {}, "built": {"trained_codebooks": 2}}}
    cold_run = {"ann": 6.0, "steady": 1.05}
    assert bench.band_violations(cold_run, bands, ms_cold, 10.1) == {}
    skips = bench.warmth_skips(cold_run, bands, ms_cold)
    assert skips == {"ann": [warm, cold]}
    # (c) real regression: same warmth, anchor flat, one query 3x
    regressed = {"ann": 6.0, "steady": 1.05}
    assert bench.band_violations(regressed, bands, ms_warm, 10.1) == {
        "ann": [2.0, 6.0]
    }
    # drift relaxes only: a FASTER host never tightens the gate
    assert bench._drift(bands, 5.0) == 1.0
    assert bench._drift(bands, 100.0) == bench.DRIFT_CAP


def test_drift_requires_cpu_corroboration():
    """Round-11 (round-10 ADVICE, medium): the anchor-derived drift
    factor alone cannot tell a slower host from a uniform code
    regression.  Round-12 (r11 verdict item 3): when the bands file
    records the host-independent CPU probe reference, the gate's
    relaxing factor is the cpu ratio ALONE — the round-11 min(anchor,
    cpu) under-relaxed every untouched band whenever a round's code
    made the ANCHOR faster on a SLOWER host (the r11 driver capture
    flagged >=10 untouched queries exactly this way):

    (a) genuine host slowdown (cpu probe also 2.2x) -> bands relax,
        no flags;
    (b) uniform CODE regression (anchor 2.2x, cpu probe flat) -> the
        gate does NOT relax (a code change cannot move the probe):
        every slowed query is flagged;
    (c) raw-band breaches excused by corroborated drift are surfaced
        (drift_excused) and fail a --strict run (exit 5) instead of
        vanishing into the relaxed gate;
    (d) the r11 failure mode: slower host (cpu 2.2x) whose anchor
        moved only 1.1x because this round's code made the anchor
        faster -> untouched queries at host-drifted 2.2x must NOT
        flag (min() flagged them; cpu-alone excuses them)."""
    import bench

    bands = {
        "sf": 0.1,
        "anchor_r01_shared_total": 10.0,
        "queries": {"a": 2.0, "b": 1.0},
        "cpu_micro_ref": 0.02,
    }
    slowed = {"a": 4.4, "b": 2.2}
    # (a) host really is 2.2x slower: cpu probe corroborates -> no flags
    assert bench.band_violations(slowed, bands, {}, 22.0, 0.044) == {}
    # (b) cpu probe flat: the 2.2x is code, not host -> both flagged
    flagged = bench.band_violations(slowed, bands, {}, 22.0, 0.02)
    assert set(flagged) == {"a", "b"}
    # (d) slower host masked by faster code: anchor only 1.1x but the
    # probe reads 2.2x -> cpu-alone relaxation, no false flags
    assert bench.band_violations(slowed, bands, {}, 11.0, 0.044) == {}
    assert round(bench._drift(bands, 11.0, 0.044), 9) == 2.2
    # a probe reference with no probe reading never relaxes: the anchor
    # alone cannot tell a slower host from slower code
    assert bench._drift(bands, 22.0) == 1.0
    assert bench._drift(bands, 22.0, 0.0) == 1.0
    # legacy bands without the probe keep the round-10 anchor fallback
    legacy = {k: v for k, v in bands.items() if k != "cpu_micro_ref"}
    assert bench.band_violations(slowed, legacy, {}, 22.0, 0.02) == {}
    # (c) corroborated-drift excusals are reportable, and strict-fatal
    excused = bench.drift_excused(slowed, bands, {}, 22.0, 0.044)
    assert set(excused) == {"a", "b"}
    assert bench.exit_code(11.0, bands, {}, strict=False, excused=excused) == 0
    assert bench.exit_code(11.0, bands, {}, strict=True, excused=excused) == 5
    assert bench.exit_code(
        11.0, bands, {}, strict=True, warmth_skipped={"a": ["w", "c"]}
    ) == 5
    assert bench.exit_code(11.0, bands, {}, strict=True) == 0


def test_loadavg_gate_sees_ghost_load():
    """Round-11 (verdict item 2): the documented firecracker ghost-load
    state (loadavg 5-10 with zero busy procs, ~2x small-query
    inflation) must never stamp a capture clean — BENCH_r10 was stamped
    clean at loadavg1 6.71 under the old cores/4 threshold."""
    import bench

    assert bench.LOADAVG_CLEAN_MAX < 5.0


def test_band_merge_keeps_historical_minima():
    """Round-7 gate hygiene: regenerating bands min-merges the new
    capture into the existing file — a noisy-high machine can never
    loosen the gate, new queries enter verbatim, removed queries drop
    out, and --reset (or an sf change) rebuilds from the capture."""
    import importlib.util as _ilu
    import os as _os

    spec = _ilu.spec_from_file_location(
        "update_bench_bands",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "tools", "update_bench_bands.py",
        ),
    )
    ubb = _ilu.module_from_spec(spec)
    spec.loader.exec_module(ubb)

    old = {
        "sf": 0.1,
        "anchor_r01_shared_total": 11.0,
        "queries": {"a": 1.0, "b": 3.0, "removed": 0.5},
    }
    detail = {
        "sf": 0.1,
        "r01_shared_total": 13.0,          # noisier capture
        "queries": {"a": 2.0, "b": 2.5, "new_q": 4.0},
    }
    merged = ubb.merged_bands(detail, old, reset=False)
    assert merged["queries"] == {"a": 1.0, "b": 2.5, "new_q": 4.0}
    assert merged["anchor_r01_shared_total"] == 11.0
    assert "removed" not in merged["queries"]
    assert "MIN-OF-N" in merged["comment"]

    reset = ubb.merged_bands(detail, old, reset=True)
    assert reset["queries"] == detail["queries"]
    assert reset["anchor_r01_shared_total"] == 13.0

    other_sf = ubb.merged_bands(detail, {**old, "sf": 0.01}, reset=False)
    assert other_sf["queries"] == detail["queries"]

    # round-11 --adopt-warmth: registering a new session memo changes
    # every warmth signature's encoding; the mode keeps min-merged
    # VALUES but stamps the current capture's signatures (default mode
    # keeps the old band's warmth with the old band)
    spec2 = _ilu.spec_from_file_location(
        "bench_t", _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "bench.py",
        ),
    )
    bench_t = _ilu.module_from_spec(spec2)
    spec2.loader.exec_module(bench_t)
    old_sig = bench_t.warmth_sig({"warm": {"codebooks": 1}, "built": {}})
    new_sig = bench_t.warmth_sig(
        {"warm": {"codebooks": 1, "new_memo": 1}, "built": {}}
    )
    old_w = {**old, "warmth": {"a": old_sig}}
    det_w = {**detail, "memo_state": {
        "a": {"warm": {"codebooks": 1, "new_memo": 1}, "built": {}}
    }}
    kept = ubb.merged_bands(det_w, old_w, reset=False)
    assert kept["queries"]["a"] == 1.0 and kept["warmth"]["a"] == old_sig
    adopted = ubb.merged_bands(det_w, old_w, reset=False, adopt_warmth=True)
    assert adopted["queries"]["a"] == 1.0      # value still min-merged
    assert adopted["warmth"]["a"] == new_sig   # signature re-stamped

    # round-11: the cpu probe reference min-merges too, and an old
    # reference survives a capture that lacks the probe
    m2 = ubb.merged_bands(
        {**detail, "cpu_micro_sec": 0.03},
        {**old, "cpu_micro_ref": 0.02},
        reset=False,
    )
    assert m2["cpu_micro_ref"] == 0.02
    m3 = ubb.merged_bands(detail, {**old, "cpu_micro_ref": 0.02}, False)
    assert m3["cpu_micro_ref"] == 0.02
    assert "cpu_micro_ref" not in ubb.merged_bands(detail, old, False)


def test_bands_file_matches_registry():
    """bench_bands.json must cover the registered queries it claims to
    gate — a band for an unregistered name is a stale file."""
    import json

    import bench
    from beam_scala_examples_spark.queries import QUERIES

    bands = bench.load_bands(0.1)
    assert bands is not None, "bench_bands.json missing or wrong SF"
    stale = [n for n in bands["queries"] if n not in QUERIES]
    assert not stale, f"bands for unregistered queries: {stale}"


def test_bench_strict_exit_semantics():
    """Round-6 --strict: confirmed per-query violations fail ONLY under
    strict; anchor regression fails either way and takes precedence."""
    import bench

    bands = {"sf": 0.1, "anchor_r01_shared_total": 13.0,
             "queries": {"q": 1.0}}
    v = {"q": [1.0, 5.0]}
    assert bench.exit_code(14.0, bands, {}, strict=False) == 0
    assert bench.exit_code(14.0, bands, {}, strict=True) == 0
    assert bench.exit_code(14.0, bands, v, strict=False) == 0
    assert bench.exit_code(14.0, bands, v, strict=True) == 3
    assert bench.exit_code(27.0, bands, v, strict=True) == 2
    assert bench.exit_code(27.0, bands, {}, strict=False) == 2


def test_clear_session_memos_rebuilds_identically(spark, sf_dir):
    """Round-6 memo lifecycle: clearing every session memo releases the
    persisted relations and the next call rebuilds bit-identical
    results (everything memoized is deterministic)."""
    from beam_scala_examples_spark.queries.clustering import emb_kmeans
    from beam_scala_examples_spark.queries.llmdata import (
        text_structured,
        winnow_prints_memo,
    )
    from beam_scala_examples_spark.queries.relational import (
        _copurchase_edges,
    )
    from beam_scala_examples_spark.session import (
        clear_session_memos,
        memo_snapshot,
    )

    before_struct = sorted(
        tuple(r) for r in text_structured(spark, sf_dir).collect()
    )
    before_km = sorted(
        tuple(r[0:2]) for r in emb_kmeans(spark, sf_dir).collect()
    )
    before_prints = sorted(
        tuple(r) for r in winnow_prints_memo(spark, sf_dir).collect()
    )
    before_edges = sorted(
        tuple(r) for r in _copurchase_edges(spark, sf_dir).collect()
    )
    groups = {"struct", "trained_codebooks", "winnow_prints", "lpa_edges"}
    assert groups <= set(memo_snapshot())
    clear_session_memos()
    assert memo_snapshot() == {}
    after_struct = sorted(
        tuple(r) for r in text_structured(spark, sf_dir).collect()
    )
    after_km = sorted(
        tuple(r[0:2]) for r in emb_kmeans(spark, sf_dir).collect()
    )
    after_prints = sorted(
        tuple(r) for r in winnow_prints_memo(spark, sf_dir).collect()
    )
    after_edges = sorted(
        tuple(r) for r in _copurchase_edges(spark, sf_dir).collect()
    )
    assert before_struct == after_struct
    assert before_km == after_km
    assert before_prints == after_prints
    assert before_edges == after_edges


def test_cold_clear_refuses_a_tag_that_names_no_memo(spark, sf_dir,
                                                     monkeypatch):
    """A cold owner's clear goes through the registry and must remove an
    entry on every rep after a build; a tag that names no memo would
    leave the query timed warm, so the bench refuses it."""
    import pytest

    import bench
    from beam_scala_examples_spark.session import memo, memo_snapshot

    monkeypatch.setattr(bench, "COLD_MEMOS", {
        "owner": ("probe/rel",), "typo": ("probe/no_such_tag",),
    })
    memo("probe/rel", spark, sf_dir, lambda: [1])
    assert memo_snapshot().get("probe") == 1
    bench._clear_cold("owner", after_build=True)
    assert "probe" not in memo_snapshot()
    bench._clear_cold("typo", after_build=False)  # first rep: nothing yet
    with pytest.raises(RuntimeError, match="removed no memo"):
        bench._clear_cold("typo", after_build=True)


def _holds_dataframe(value) -> bool:
    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (list, tuple)):
        return any(_holds_dataframe(v) for v in value)
    return False


def _perfbench_mix() -> tuple[str, ...]:
    """The perfbench llmdata query mix, read from its source (perfbench
    modules import each other as top-level names, so not importable
    from here)."""
    import ast

    path = os.path.join(
        os.path.dirname(__file__), "..", "perfbench", "batch.py"
    )
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "MIX" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/batch.py defines no MIX")


def test_memos_live_only_in_the_session_registry(spark, sf_dir):
    """Every relation a query keeps between calls lives in the session
    registry: after the memo consumers, the per-call holders (BPE
    vocabulary, recursive autocomplete levels) and the perfbench llmdata
    mix have run, no module global in queries.*, operators.* or
    streaming.* holds a DataFrame, and one clear empties the registry."""
    import importlib
    import pkgutil

    import beam_scala_examples_spark as pkg
    from beam_scala_examples_spark.queries import QUERIES
    from beam_scala_examples_spark.session import (
        clear_session_memos,
        memo_snapshot,
    )
    from tests.test_properties import _MEMO_CONSUMERS

    names = [*_MEMO_CONSUMERS, "text_bpe_encode",
             "q05_autocomplete_recursive", *_perfbench_mix()]
    for name in names:
        QUERIES[name](spark, sf_dir).collect()

    held = []
    for sub in ("queries", "operators", "streaming"):
        base = importlib.import_module(f"{pkg.__name__}.{sub}")
        mods = [base] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(base.__path__, base.__name__ + ".")
        ]
        held += [
            f"{mod.__name__}.{k}"
            for mod in mods
            for k, v in vars(mod).items()
            if _holds_dataframe(v)
        ]
    assert held == []
    assert {"minhash", "bpe_merges"} <= set(memo_snapshot())
    clear_session_memos()
    assert memo_snapshot() == {}


def test_batch_id_logs_live_only_in_logio():
    """Every batch_id contribution log is written and read through
    ``streaming/logio.py``: no other streaming module partitions by
    batch_id itself or catches AnalysisException (a bare catch around a
    log read swallows every analysis error, not only "nothing logged
    yet")."""
    import pathlib

    import beam_scala_examples_spark.streaming as streaming

    found = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(pathlib.Path(streaming.__path__[0]).glob("*.py"))
        if path.name != "logio.py"
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if 'partitionBy("batch_id")' in line
        or "except AnalysisException" in line
    ]
    assert found == []


def test_ann_core_lives_only_in_ann():
    """The trained-IVF probe fold (squared L2 to a centroid), the
    recall-in-basis-points expression, the PQ lookup-table fold and its
    fixed-point ``dotl`` column are each written once, in
    ``operators/ann.py``: no query or streaming module spells any of
    them itself, so a streamed index view runs the same code as its
    batch twin instead of a copy kept in step by hand.  Nothing imports
    the retired ``_SPARK_DOT`` alias of ``ann.DOT``."""
    import pathlib
    import re

    import beam_scala_examples_spark as pkg

    keys = {
        "probe": re.compile(
            re.escape("(cast(x as double) - y) * (cast(x as double) - y)")
        ),
        "recall": re.compile(r"\((?:hits|matches) \* 10000\) div"),
        "lut_fold": re.compile(re.escape("slice(qe, m * ")),
        "dotl": re.compile(re.escape('alias("dotl")')),
        "spark_dot_alias": re.compile(r"import _SPARK_DOT|_SPARK_DOT,"),
    }
    root = pathlib.Path(pkg.__path__[0])
    found = {k: [] for k in keys}
    for path in sorted(root.rglob("*.py")):
        for line in path.read_text().splitlines():
            for k, pat in keys.items():
                if pat.search(line):
                    found[k].append(path.relative_to(root).as_posix())
    once = ["operators/ann.py"]
    assert found == {
        "probe": once, "recall": once, "lut_fold": once, "dotl": once,
        "spark_dot_alias": [],
    }


def test_candidate_pairs_live_only_in_pairs():
    """The same-key unordered-pair filter of a candidate self-join and
    the Hamming band split are written once, in ``operators/pairs.py``
    (``self_pairs`` / ``overlap_pairs`` / ``hamming_bands``): no other
    module filters ``a.<id> < b.<id>`` (or the reverse, or
    ``doc_a < doc_b``) or spells ``shiftright(<sig>, band * ...``, so a
    streamed near-dup view and its batch twin pair rows the same way.
    The one exception is ``dedup_fuzzy_pairs``: its salted join matches
    different columns on each side (``a.g = b.g1``, ``a.g2 = b.g``), so
    it is not a same-key self-join."""
    import ast
    import pathlib
    import re

    import beam_scala_examples_spark as pkg

    pats = [
        re.compile(r'F\.col\("a\.(\w+)"\) < F\.col\("b\.\1"\)'),
        re.compile(r'F\.col\("b\.(\w+)"\) < F\.col\("a\.\1"\)'),
        re.compile(re.escape('F.col("doc_a") < F.col("doc_b")')),
        re.compile(r"shiftright\([^,()]+, band \* "),
    ]
    root = pathlib.Path(pkg.__path__[0])
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/pairs.py":
            continue
        src = path.read_text()
        spans = [
            (node.lineno, node.end_lineno, node.name)
            for node in ast.parse(src).body
            if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        ]
        for n, line in enumerate(src.splitlines(), start=1):
            if any(p.search(line) for p in pats):
                owner = next((nm for lo, hi, nm in spans if lo <= n <= hi), None)
                found.append((rel, owner))
    assert found == [("queries/llmdata.py", "dedup_fuzzy_pairs")]


def test_portable_hash_lives_only_in_sketches():
    """The portable md5-prefix hash, its disjoint-slice family and the
    HLL / count-min constructors are written once, in
    ``operators/sketches.py``: no other package module spells the Spark
    prefix (``conv(substr(``) or the DuckDB one
    (``'0x' || substr(md5``), and no module imports
    ``hll_partial_registers``, ``cms_partial_counters`` or ``HLL_M``
    from ``queries/dq.py``, so a streamed sketch view and its batch
    twin hash and count the same way."""
    import ast
    import pathlib

    import beam_scala_examples_spark as pkg

    root = pathlib.Path(pkg.__path__[0])
    repo = root.parent
    spelled = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        if rel != "operators/sketches.py" and (
            "conv(substr(" in src or "'0x' || substr(md5" in src
        ):
            spelled.append(rel)
    assert spelled == []

    moved = {"hll_partial_registers", "cms_partial_counters", "HLL_M"}
    sources = [
        *root.rglob("*.py"),
        *(repo / "tests").glob("*.py"),
        *(repo / "tools").glob("*.py"),
        *(repo / "perfbench").glob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    from_dq = []
    for path in sorted(sources):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[-1] == "dq"
                and moved & {a.name for a in node.names}
            ):
                from_dq.append(path.relative_to(repo).as_posix())
    assert from_dq == []


def test_bench_capture_hygiene_evidence():
    """Round-8 capture hygiene: the contention census must see this
    test's own Spark JVM as OURS (descendant), report foreign JVMs as a
    non-negative count, and classify evidence with the documented clean
    rule — so a committed bench capture carries trustworthy evidence it
    ran alone (the r07 committed capture was contention-inflated)."""
    import os

    import bench

    assert bench._is_descendant(os.getpid(), os.getpid())
    assert not bench._is_descendant(1, os.getpid())
    ev = bench.capture_evidence()
    assert set(ev) == {"foreign_jvms", "loadavg1", "clean"}
    assert ev["foreign_jvms"] >= 0
    # the clean rule is exactly the documented predicate
    assert ev["clean"] == (
        ev["foreign_jvms"] == 0
        and ev["loadavg1"] <= bench.LOADAVG_CLEAN_MAX
    )


def test_driver_window_is_derived_and_unbiased():
    """Round-10 (ADVICE): the driver-gate window is a pure function of
    the query registry and the committed CORRECTNESS_r*.json history —
    deterministic across calls, exactly _WINDOW names, CORE + FRESH
    always present, and the rotating slots filled never-driver-checked-
    first so no query can be held out of the gate for not being green."""
    import importlib.util as _ilu
    import os as _os

    spec = _ilu.spec_from_file_location(
        "entry_mod_t",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    m = _ilu.module_from_spec(spec)
    spec.loader.exec_module(m)

    w1, w2 = m.driver_window(), m.driver_window()
    assert w1 == w2, "window must be deterministic"
    assert len(w1) == m._WINDOW and len(set(w1)) == m._WINDOW
    for name in m._CORE + m._FRESH:
        assert name in w1, f"core/fresh query {name} missing from window"
    from beam_scala_examples_spark.queries import QUERIES
    assert all(n in QUERIES for n in w1)
    # rotation prefers never-driver-checked queries: while unseen
    # queries remain, no rotated slot may hold an already-checked one
    salt, seen = m._gate_history()
    head = set(m._CORE) | set(m._FRESH)
    rotated = [n for n in w1 if n not in head]
    unseen_pool = [n for n in QUERIES if n not in head and n not in seen]
    if len(unseen_pool) >= len(rotated):
        assert all(n not in seen for n in rotated)
    # the window is the exact prefix of queries()
    assert list(m.queries())[: m._WINDOW] == w1
