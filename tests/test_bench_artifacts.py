"""The line timer (``bench.py``) and the committed bench artifacts.

The timer tests run fake ``spark.range`` lines through ``bench.time_lines``
and ``bench.main`` on the test session; the artifact tests read the
committed ``REGISTRY_GATE.json`` and ``PERF.md``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_line(monkeypatch, sleeps=()):
    """Register a ``spark.range`` line in ``bench.EXTRA``; its n-th
    construction sleeps ``sleeps[n]`` seconds (0 past the end), so the
    sample each run lands in is known."""
    calls = []

    def build(spark, sf_dir):
        if len(calls) < len(sleeps):
            time.sleep(sleeps[len(calls)])
        calls.append(sf_dir)
        return spark.range(10)

    monkeypatch.setitem(bench.EXTRA, "fake_line", build)
    return calls


def test_subsecond_line_takes_two_extra_runs_and_medians_past_its_warmup(
    spark, sf_dir, monkeypatch
):
    # a slow warm-up, then timed runs whose construction times differ
    # by 0.1 s steps: the median and min must come from runs[1:] only
    calls = _fake_line(monkeypatch, sleeps=[0.6, 0.4, 0.0, 0.3, 0.1, 0.2])
    rec = bench.time_lines(spark, ["fake_line"], sf_dir)["fake_line"]
    assert len(rec["runs"]) == len(calls) == 1 + 3 + 2
    timed = sorted(rec["runs"][1:])
    assert rec["median"] == timed[2]
    assert rec["min"] == timed[0]
    assert rec["median"] < rec["runs"][0]
    # build_s is the median construction time of the timed runs (0.2 s)
    assert 0.15 < rec["build_s"] < 0.3


def test_deep_warmup_median_excludes_the_warmup_samples(
    spark, sf_dir, monkeypatch
):
    _fake_line(monkeypatch, sleeps=[0.5, 0.5, 0.5])
    monkeypatch.setitem(bench.DEEP_WARMUP, "fake_line", 3)
    rec = bench.time_lines(spark, ["fake_line"], sf_dir)["fake_line"]
    assert len(rec["runs"]) == 3 + 3 + 2  # sub-second: 2 extra runs
    assert min(rec["runs"][:3]) > max(rec["runs"][3:])
    timed = sorted(rec["runs"][3:])
    assert rec["median"] == timed[len(timed) // 2]
    assert rec["min"] == timed[0]


def _send_command_is_pristine() -> bool:
    from py4j.clientserver import ClientServerConnection

    fn = ClientServerConnection.send_command
    return (fn.__module__, fn.__qualname__) == (
        "py4j.clientserver", "ClientServerConnection.send_command"
    )


def test_py4j_counts_come_from_a_hook_removed_after_the_first_run(
    spark, sf_dir, monkeypatch
):
    # importing bench patches nothing (perfbench imports it and installs
    # its own hook): check in a fresh interpreter
    probe = (
        "import bench\n"
        "from py4j.clientserver import ClientServerConnection as C\n"
        "f = C.send_command\n"
        "print(f.__module__, f.__qualname__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == ["py4j.clientserver", "ClientServerConnection.send_command"]

    _fake_line(monkeypatch)
    assert _send_command_is_pristine()
    rec = bench.time_lines(spark, ["fake_line"], sf_dir)["fake_line"]
    assert rec["py4j_build"] > 0
    assert rec["py4j_exec"] > 0
    assert _send_command_is_pristine()


def test_py4j_counter_skips_the_release_commands_of_collected_objects(
    spark, monkeypatch
):
    # py4j releases a garbage-collected JavaObject with a command of its
    # own, sent when the GC runs: the counter must see only explicit calls
    import gc

    from py4j.clientserver import ClientServerConnection

    sent: list = []
    orig = ClientServerConnection.send_command

    def recording(conn, command, *a, **kw):
        sent.append(command)
        return orig(conn, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", recording)
    held = spark._jvm.java.util.ArrayList()
    dropped = [held.subList(0, 0) for _ in range(40)]
    with bench._py4j_counter() as calls:
        del dropped
        gc.collect()
        for _ in range(5):
            held.size()
        # the finalizer thread sends the releases asynchronously
        end = time.monotonic() + 30
        while sum(c.startswith("m\nd\n") for c in sent) < 40:
            assert time.monotonic() < end, "py4j sent no release commands"
            time.sleep(0.05)
    assert calls[0] == 5


def test_compact_summary_line_fits_the_driver_tail_window(
    spark, monkeypatch, capsys
):
    # callers of bench.py keep only the last ~2000 chars of its stdout:
    # the summary for the full 76-line board must stay far inside it
    def fake_time_lines(spark, names, sf_dir):
        return {
            n: {"runs": [9.876] * 12, "median": 9.876, "min": 9.876,
                "build_s": 1.234, "py4j_build": 12345, "py4j_exec": 678}
            for n in names
        }

    monkeypatch.setattr(bench, "get_spark", lambda app: spark)
    monkeypatch.setattr(bench, "time_lines", fake_time_lines)
    monkeypatch.setattr(bench, "warm_up", lambda spark: None)
    bench.main([])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    summary = json.loads(line)
    assert summary["n_queries"] == len(bench.HEADLINE) == 76
    assert summary["value"] == round(76 * 9.876, 3)
    assert set(summary) == {
        "metric", "value", "unit", "n_queries", "sf", "cpus",
        "runs_per_query", "warmup_runs",
    }
    assert len(line) < 1200, len(line)


def test_main_writes_no_file(spark, sf_dir, monkeypatch, capsys):
    def status():
        return subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout

    before = status()
    _fake_line(monkeypatch)
    # the test session, not get_spark's bench conf (getOrCreate would
    # apply that conf to the shared session)
    monkeypatch.setattr(bench, "get_spark", lambda app: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    bench.main(["fake_line"])
    out, err = capsys.readouterr()
    assert json.loads(out.strip().splitlines()[-1])["n_queries"] == 1
    assert any(l.startswith("# lines: ") for l in err.splitlines())
    assert status() == before


def test_registry_gate_artifact_covers_every_registered_query():
    """REGISTRY_GATE.json (VERDICT r13 item 2) is the machine-readable
    record of the builder's full-registry oracle gate — the mitigation
    for the driver window's ~11-round re-attestation period. It must
    cover EVERY query the entry module registers, at the granularity
    the driver cares about: oracled queries pass bit-exact, rows-only
    queries are recorded as such (never silently absent), and each
    entry names the repo sha its run imported."""
    import __spark_entry__ as entrymod

    path = os.path.join(REPO, "REGISTRY_GATE.json")
    with open(path) as f:
        doc = json.load(f)
    registered = set(entrymod.queries())
    oracled = set(entrymod.oracle_sql())
    gated = set(doc["queries"])
    missing = registered - gated
    assert not missing, f"registry-gate artifact missing {sorted(missing)}"
    # and the converse (ADVICE r14): entries for queries later removed
    # or renamed must be pruned at write time, not linger inflating
    # totals with stale attestations
    stale = gated - registered
    assert not stale, f"registry-gate artifact has stale entries {sorted(stale)}"
    for name in sorted(registered):
        scales = doc["queries"][name]["scales"]
        assert scales, f"{name}: no gate run recorded"
        want = "pass" if name in oracled else "rows_only"
        for sf_label, entry in scales.items():
            assert entry["status"] == want, (
                f"{name}@{sf_label}: status {entry['status']!r}, "
                f"expected {want!r}"
            )
            assert entry["sha"], f"{name}@{sf_label}: no sha recorded"
        # the full-registry gate runs at >= 2 scales round-over-round;
        # requiring one here keeps the test valid mid-accumulation
        assert any(s.startswith("sf") for s in scales)


def test_registry_gate_artifact_sha_is_a_real_commit():
    import subprocess

    path = os.path.join(REPO, "REGISTRY_GATE.json")
    with open(path) as f:
        doc = json.load(f)
    shas = {s["sha"] for q in doc["queries"].values()
            for s in q["scales"].values()}
    shas.add(doc["last_run"]["sha"])
    # a committed artifact must never attest a dirty-tree run: the
    # -dirty marker (ADVICE r14) exists to be caught right here
    dirty = {s for s in shas if s.endswith("-dirty")}
    assert not dirty, f"artifact attests dirty-tree runs: {sorted(dirty)}"
    for sha in sorted(shas):
        r = subprocess.run(
            ["git", "cat-file", "-e", f"{sha}^{{commit}}"],
            cwd=REPO,
            capture_output=True,
        )
        assert r.returncode == 0, f"artifact sha {sha} is not a commit"


def test_perf_md_regression_claims_match_the_pinned_artifact():
    """VERDICT r14 item 2, the enforcement half: every per-line
    regression claim in PERF.md must be a citation of a sha-pinned
    BENCH_RUNS.json, written as

        lines_over_1p3x vs r{N} (BENCH_RUNS.json @ {sha}): median={a}, min={b}

    and this test replays each citation against `git show
    {sha}:BENCH_RUNS.json`. From round 15 on, a round section without
    such a citation fails — prose like r14's "ZERO lines above 1.3x"
    can no longer exist without an artifact behind it."""
    import re
    import subprocess

    with open(os.path.join(REPO, "PERF.md")) as f:
        text = f.read()
    markers = re.findall(
        r"lines_over_1p3x vs r(\d+) \(BENCH_RUNS\.json @ ([0-9a-f]{7,40})\):"
        r" median=(\d+), min=(\d+)",
        text,
    )
    rounds_documented = {
        int(m) for m in re.findall(r"^##+ [Rr]ound (\d+)", text, re.M)
    }
    if any(r >= 15 for r in rounds_documented):
        assert markers, (
            "PERF.md documents round >= 15 but cites no sha-pinned "
            "lines_over_1p3x artifact"
        )
    for prev_round, sha, n_med, n_min in markers:
        shown = subprocess.run(
            ["git", "show", f"{sha}:BENCH_RUNS.json"],
            capture_output=True, text=True, cwd=REPO, timeout=30,
        )
        assert shown.returncode == 0, f"cited sha {sha} has no BENCH_RUNS.json"
        doc = json.loads(shown.stdout)
        vs = doc.get("vs_prev") or {}
        assert vs.get("prev_round") == int(prev_round), (
            f"citation says vs r{prev_round}, artifact says "
            f"vs r{vs.get('prev_round')}"
        )
        assert len(vs.get("over_1p3x_median", ())) == int(n_med)
        assert len(vs.get("over_1p3x_min", ())) == int(n_min)


def test_deep_warmup_covers_the_r18_jit_tail_lines():
    """r18: b30_bpe_encode / b30_assoc_rules joined DEEP_WARMUP after
    the interleaved A/B showed 3-sample JIT tails on identical code
    (raw traces in OPTIMIZATION_r18.md)."""
    assert bench.DEEP_WARMUP["b30_bpe_encode"] == 3
    assert bench.DEEP_WARMUP["b30_assoc_rules"] == 3
