"""bench.py output-contract tests (Spark only for the session echo and
the smoke subprocess).

The driver captures only the LAST ~2000 chars of bench.py's stdout;
BENCH_r07.json went parsed:null because "extra" grew past the buffer.
These tests pin the guarantee that the printed line stays under
bench.LINE_LIMIT for a worst-case payload, with overflow demoted to the
detail file rather than dropped.
"""

from __future__ import annotations

import json

import pytest

import bench
import benchlib


def _worst_case_out() -> dict:
    # 48 headline queries at the real suite's name-length DISTRIBUTION
    # (mean ~15 chars, max 26 — multi_tenant_stream_graph2): r9 ships 35
    # headline queries and adds ~2 per round, so 48 is ≥20% headroom for
    # several rounds of growth (VERDICT r8 item 8). All 48 at the MAX
    # length would overflow the never-demoted "queries" block itself
    # (1729 chars alone) — that envelope is what the suite's short-name
    # convention exists to avoid, and test_unshrinkable_line_raises pins
    # the loud failure for it.
    queries = {}
    for i in range(48):
        name = f"knn_exact_{i:02d}" if i % 2 else f"knn_graph2_variant_long_{i:02d}"
        queries[name] = 12.345
    return {
        "metric": "headline_suite_wall_seconds",
        "value": 123.456,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "extra": {
            "knn_exact_qps": 293.9,
            "knn_exact_2k_qps": 3218.4,
            "knn_exact_5k_qps": 4123.4,
            "knn_exact_10k_qps": 6123.4,
            "load_avg": {"start": [31.25, 30.11, 29.87], "end": [33.5, 31.2, 30.0]},
            "graph2_autotune_best": {
                "nprobe1": 4, "nprobe2": 12, "beam": 32,
                "recall": 0.92, "selectivity": 0.75,
            },
            # bulky sweeps that blew the r7 buffer, at 3x r7 size
            "graph2_autotune_frontier": [
                {"nprobe1": a, "nprobe2": b, "beam": c,
                 "recall": 0.9, "selectivity": 0.5}
                for a in (1, 2, 4) for b in (4, 8, 12) for c in (16, 32)
            ],
            "knn_exact_qps_scaling": {str(n): 1000.0 for n in range(100, 4100, 200)},
            "index_build_seconds": {f"index_family_{i}": 9.87 for i in range(12)},
            "probe_qps": {f"knn_probe_family_{i}": 123.4 for i in range(8)},
            "cold_pass_seconds": 99.9,
            "steady_pass_seconds": [55.5, 56.6, 57.7],
            # the 1M inline headline at its r15 shape: dynamic ratios
            # carry median + [lo, hi] range (never a single draw)
            "large_1m": {
                "exact_qps": 145.2,
                "graph2_served_qps": 542.0,
                "graph2_served_recall": 0.9786,
                "hi_recall_crossover": ["graph2_served"],
                "ivfpq_dyn_post_over_pre": 0.91,
                "ivfpq_dyn_post_over_pre_range": [0.83, 1.14],
                "ivfpq_dyn_compacted_over_pre": 0.97,
                "ivfpq_dyn_compacted_over_pre_range": [0.93, 1.06],
                "graph2_dyn_post_qps": 457.7,
                "graph2_dyn_post_over_pre": 1.075,
                "graph2_dyn_post_over_pre_range": [1.01, 1.14],
            },
        },
    }


def test_line_under_limit_and_lossless():
    out = _worst_case_out()
    orig_extra_keys = set(out["extra"])
    detail: dict = {}
    line = bench.render_bench_line(out, detail)

    assert len(line) < bench.LINE_LIMIT
    parsed = json.loads(line)
    # the record proper is never demoted
    assert parsed["value"] == 123.456
    assert len(parsed["queries"]) == 48
    assert parsed["extra"]["detail"] == bench.DETAIL_PATH
    # lossless: every original extra key survives on exactly one side
    inline = set(parsed["extra"]) - {"detail"}
    assert inline | set(detail) >= orig_extra_keys
    assert not (inline & set(detail))
    # the known-bulky sweeps must have been demoted, not dropped
    assert "graph2_autotune_frontier" in detail
    assert "knn_exact_qps_scaling" in detail


def test_compact_payload_stays_inline():
    out = {
        "metric": "headline_suite_wall_seconds",
        "value": 1.0,
        "unit": "sec",
        "queries": {"knn_exact": 0.5},
        "sf": 0.01,
        "extra": {"knn_exact_qps": 200.0},
    }
    detail: dict = {}
    line = bench.render_bench_line(out, detail)
    assert detail == {}
    assert json.loads(line)["extra"]["knn_exact_qps"] == 200.0


class _FakeDF:
    """count()-only stand-in for a DataFrame (no Spark in this module)."""

    def __init__(self, n: int):
        self.n = n

    def count(self) -> int:
        return self.n


def test_qps_scaling_keys_are_actual_batch_sizes():
    """Pins the r9 defect class: the sweep's keys and numerators must be
    the ACTUAL executed batch size, never a requested size — a 5000-row
    request over a 2000-row fixture must collapse into the 2000 key, not
    mint a phantom '5000' with an inflated numerator."""
    emb = _FakeDF(2000)
    requested = (100, 1000, 2000, 5000)
    frames = [_FakeDF(min(nq, emb.count())) for nq in requested]
    out = bench.qps_scaling_sweep(lambda e, q, k: _FakeDF(q.count()), emb, frames)
    assert set(out) == {"100", "1000", "2000"}
    assert all(int(key) <= emb.count() for key in out)


def test_calibration_contended_thresholds():
    """Pins the 1M-block load gate's trigger (VERDICT r17 item 2): a
    quiet-host reading must NOT gate (no wasted second draws on every
    run), while either a depressed GEMM or — the r17 failure mode the
    GEMM probe is blind to — a depressed memory-bandwidth reading
    must."""
    quiet = {"gemm_gflops": 220.0, "mem_gbps": 16.8, "load": [1.0, 2.0, 3.0]}
    assert not benchlib.calibration_contended(quiet)
    slow_gemm = dict(quiet, gemm_gflops=80.0)
    assert benchlib.calibration_contended(slow_gemm)
    # healthy cache-resident GEMM, starved bus: the r17 window's shape
    bus_contended = dict(quiet, mem_gbps=6.0)
    assert benchlib.calibration_contended(bus_contended)
    # floors are strict bounds, not approximations
    at_floor = dict(
        quiet,
        gemm_gflops=benchlib.GEMM_GFLOPS_CONTENDED_FLOOR,
        mem_gbps=benchlib.MEM_GBPS_CONTENDED_FLOOR,
    )
    assert not benchlib.calibration_contended(at_floor)


def test_headline_cal_summary_shape():
    """Pins the headline-suite calibration bracket (VERDICT r18 item 1:
    BENCH_r18 printed a phantom 23% suite regression from a window its
    own 1M gate flagged; the suite had no adjudicator of its own). The
    printed line's compact summary must carry start/end GEMM + mem_gbps
    and the gated flag — nothing else from the bulky gate record."""
    gate = {
        "calibration_start": {"gemm_gflops": 233.1, "mem_gbps": 15.2,
                              "load": [0.5, 0.7, 1.0]},
        "calibration_end": {"gemm_gflops": 228.4, "mem_gbps": 14.9,
                            "load": [20.1, 12.2, 6.0]},
        "gated": False,
        "committed": "min_of_draw_medians_per_query",
    }
    got = bench.headline_cal_summary(gate)
    assert got == {
        "start": {"gemm_gflops": 233.1, "mem_gbps": 15.2},
        "end": {"gemm_gflops": 228.4, "mem_gbps": 14.9},
        "gated": False,
    }
    # load averages stay in detail — they'd bloat the line
    assert "load" not in got["start"] and "load" not in got["end"]


def test_gated_headline_commit_is_min_of_draws_per_query():
    """The contended-window re-draw commits the per-query MIN of the two
    steady-median draws (wall seconds: a contended window only ever
    inflates) — the 1M block's one-sided max-of-draws policy on the
    wall-clock axis, never a mix-and-match or a mean."""
    draw1 = {"knn_exact": 0.7, "pricing_summary": 0.4, "sessionize": 0.5}
    draw2 = {"knn_exact": 0.6, "pricing_summary": 0.9, "sessionize": 0.5}
    got = bench.gated_headline_timings(draw1, draw2)
    assert got == {"knn_exact": 0.6, "pricing_summary": 0.4, "sessionize": 0.5}
    # inputs untouched (both draws are committed to detail verbatim)
    assert draw1["knn_exact"] == 0.7 and draw2["pricing_summary"] == 0.9


def test_headline_cal_stays_inline_at_realistic_payload():
    """At the r18 line's realistic extra payload, headline_cal must
    survive on the printed line (it is the suite's adjudicator; the
    bulky sweeps demote first). The lossless-demotion invariant for the
    worst case is covered by test_line_under_limit_and_lossless."""
    out = _worst_case_out()
    out["queries"] = {f"q_{i:02d}": 1.234 for i in range(36)}
    # r18's line carried only these after demotion; replicate that state
    for k in ("graph2_autotune_frontier", "knn_exact_qps_scaling",
              "index_build_seconds", "probe_qps", "steady_pass_seconds",
              "graph2_autotune_best"):
        out["extra"].pop(k)
    out["extra"]["headline_cal"] = {
        "start": {"gemm_gflops": 233.1, "mem_gbps": 15.2},
        "end": {"gemm_gflops": 228.4, "mem_gbps": 14.9},
        "gated": False,
    }
    detail: dict = {}
    line = bench.render_bench_line(out, detail)
    parsed = json.loads(line)
    assert parsed["extra"]["headline_cal"]["gated"] is False
    assert parsed["extra"]["headline_cal"]["start"]["gemm_gflops"] == 233.1


def test_unshrinkable_line_raises():
    # "queries" is never demoted; if it alone overflows, fail LOUDLY
    out = {
        "metric": "m", "value": 1.0, "unit": "sec",
        "queries": {f"q{i}": 1.0 for i in range(400)},
        "sf": 0.1, "extra": {},
    }
    with pytest.raises(AssertionError, match="bench JSON line"):
        bench.render_bench_line(out, {})


def test_batch_qps_extras_come_from_sweep_medians():
    """One artifact, one number per kernel (VERDICT r11 wrong-item 2):
    every batch-size QPS extra must be the sweep's own median value for
    that batch size — never an independently-timed divide — and a
    batch size the sweep never executed records 0.0."""
    sweep = {"100": 900.0, "1000": 2800.0, "2000": 3061.0, "10000": 5977.0}
    extras = bench.batch_qps_extras(sweep)
    assert extras["knn_exact_2k_qps"] == sweep["2000"]
    assert extras["knn_exact_10k_qps"] == sweep["10000"]
    assert extras["knn_exact_5k_qps"] == 0.0  # absent -> honest zero
    assert set(extras.values()) <= set(sweep.values()) | {0.0}


def test_over_pre_ratio_is_paired_per_rotation():
    """The dynamic post/pre extras must summarize PER-ROTATION pairs
    (median + [lo, hi] across ≥3 rotations), never a ratio of medians
    or a single draw — the r14 record's single-rotation 1.32
    misrepresented a 0.83–1.14 spread (VERDICT r14)."""
    w = {
        "pre": [1.0, 2.0, 1.0, 4.0, 1.0],
        "post": [1.1, 1.8, 1.3, 4.4, 0.9],
    }
    got = benchlib.over_pre_ratio(w, "post")
    # pairwise ratios: 1.1, 0.9, 1.3, 1.1, 0.9 -> median 1.1
    assert got["median"] == 1.1
    assert got["range"] == [0.9, 1.3]
    assert got["rotations"] == 5
    assert got["range"][0] <= got["median"] <= got["range"][1]
    # a ratio-of-medians would read 1.3/1.0 = 1.3 here — the exact
    # failure mode the pairing exists to exclude
    assert got["median"] != 1.3


def test_interleaved_rotations_returns_samples_per_state():
    calls = {"a": 0, "b": 0}

    def mk(k):
        def t():
            calls[k] += 1
        return t

    w = benchlib.interleaved_rotations({"a": mk("a"), "b": mk("b")}, rounds=4)
    assert sorted(w) == ["a", "b"]
    assert len(w["a"]) == len(w["b"]) == 4
    assert calls == {"a": 5, "b": 5}  # warm + 4 rotations
    assert all(x > 0 for x in w["a"] + w["b"])


def test_base_partition_rule_scales_with_rows():
    """The synthetic-base partitioning must scale with row count (the
    20M OOM class, commit-fixed r14): ~250k rows per partition with a
    32-partition floor, so per-task input stays ~130 MB of
    float32[128] at every N instead of growing linearly."""
    assert benchlib.base_partitions(100_000) == 32  # floor
    assert benchlib.base_partitions(1_000_000) == 32
    assert benchlib.base_partitions(10_000_000) == 40
    assert benchlib.base_partitions(20_000_000) == 80
    # per-partition rows stay bounded as N grows
    for n in (8_000_001, 20_000_000, 100_000_000):
        assert n / benchlib.base_partitions(n) <= 250_000 + 125_000


def test_tools_read_only_public_measurement_names():
    """bench.py and every tools/ script read only public names of
    `bench` and `benchlib`, and each name exists there. No test runs
    the XL tools, so this parse is what catches a rename that would
    break one."""
    import ast
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mods = {"bench": bench, "benchlib": benchlib}
    reads = []  # (file, module, name)
    for path in [os.path.join(repo, "bench.py"), *glob.glob(f"{repo}/tools/*.py")]:
        with open(path) as fh:
            nodes = list(ast.walk(ast.parse(fh.read(), path)))
        local = {}  # name bound in this file -> measurement module
        for n in nodes:
            if isinstance(n, ast.Import):
                local.update((a.asname or a.name, a.name) for a in n.names if a.name in mods)
            elif isinstance(n, ast.ImportFrom) and n.module in mods:
                reads += [(path, n.module, a.name) for a in n.names]
        reads += [
            (path, local[n.value.id], n.attr)
            for n in nodes
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
            and n.value.id in local
        ]
    bad = [r for r in reads if r[2].startswith("_") or not hasattr(mods[r[1]], r[2])]
    assert reads and not bad, bad


SESSION_ECHO_KEYS = (
    "master", "default_parallelism", "spark_graft_cpus", "python_daemon_module",
)


def test_bench_smoke_final_line_is_json():
    """Subprocess-level pin of the emission ordering (BENCH_r16 went
    parsed:null when a StateStore teardown WARN landed after the JSON
    line): run the smoke bench — which deliberately arms the StateStore
    maintenance timer via a stateful streaming query — capture stdout
    and stderr MERGED in real order (the driver's view), and assert the
    final non-empty line is the parseable bench record. A unit test on
    render_bench_line cannot catch this class."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_BENCH_SMOKE": "1"}
    p = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        cwd=repo,
        env=env,
        timeout=600,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    assert p.returncode == 0, p.stdout[-2000:]
    assert lines, "no output at all"
    rec = json.loads(lines[-1])  # the driver's parse — must not raise
    assert rec["unit"] == "sec"
    assert rec["queries"] and rec["value"] > 0
    assert rec["extra"]["smoke"] is True
    assert set(SESSION_ECHO_KEYS) <= set(rec["extra"])


def test_session_echo_describes_the_session(spark, monkeypatch):
    """The bench line echoes the session it was measured on: master,
    default parallelism, the SPARK_GRAFT_CPUS value and the worker
    daemon module."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    echo = bench.session_echo(spark)
    assert tuple(echo) == SESSION_ECHO_KEYS
    sc = spark.sparkContext
    assert echo["master"] == sc.master
    assert echo["default_parallelism"] == sc.defaultParallelism
    assert echo["spark_graft_cpus"] == "3"
    assert echo["python_daemon_module"] == "cs598vectordb_spark._pydaemon"
    json.dumps(echo)  # rides in the printed line
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert bench.session_echo(spark)["spark_graft_cpus"] is None
