"""Bench artifact contract (VERDICT r11 item 1) — the pieces that keep
the round-over-round perf series machine-readable: truncated-tail
recovery, archived-runs medians, and the compact-line size budget.
No Spark session needed.
"""

from __future__ import annotations

import json
import os

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_recover_from_tail_reconstructs_the_r11_artifact():
    # the committed BENCH_r11.json is the real broken artifact this
    # machinery exists for: parsed null, tail = the END of the line
    path = os.path.join(REPO, "BENCH_r11.json")
    with open(path) as f:
        data = json.load(f)
    assert data.get("parsed") is None  # the r11 defect, preserved
    queries, canaries = bench._recover_from_tail(data["tail"])
    assert canaries == {"canary_cpu": 2.604, "canary_shuffle": 5.274}
    # spot values the r11 verdict hand-parsed from the same tail
    assert queries["b24_corpus_v7"] == 5.58
    assert queries["b30_ppr"] == 3.431
    assert len(queries) >= 30  # the tail holds most of the board
    # scalar fields must not leak in as fake query timings
    for junk in ("value", "sf", "runs_per_query"):
        assert junk not in queries


def test_medians_from_runs_discards_canary_warmups():
    runs = {
        "q1": [3.0, 1.0, 2.0],
        "canary_cpu": [25.0, 9.0, 4.0, 5.0, 4.5],  # 2 warmups discarded
    }
    med = bench._medians_from_runs(runs)
    assert med["q1"] == 2.0
    assert med["canary_cpu"] == 4.5


def _hide_r17_artifacts(monkeypatch):
    """r18: the committed r17 artifacts resolve via the c8 SIDE leg
    (raw-only baseline — see test_side_leg_baseline_is_raw_only...);
    the canary-basis tests pin the NORMAL path, so they run against the
    newest round whose main leg still replays (r16)."""
    import glob as _glob

    real = _glob.glob

    def filtered(pat, *a, **kw):
        return [p for p in real(pat, *a, **kw) if "BENCH_r17" not in p]

    monkeypatch.setattr(_glob, "glob", filtered)


def test_drift_normalization_prefers_cpu_basis(monkeypatch):
    # with the repo's committed artifacts present, the prior round must
    # resolve (r11 via tail recovery or r12+ compact) and the basis must
    # be canary_cpu alone (r17 calibration: 1.03x same-code spread vs
    # shuffle's 1.35x — and the 2-element class "median" always picked
    # whichever canary drifted MORE), with the disagreement cross-check
    # and per-class tolerance fields emitted
    _hide_r17_artifacts(monkeypatch)
    timings = {"a6_bootstrap": 0.5, "b24_corpus_v7": 5.0}
    canaries = {"canary_cpu": 2.6, "canary_shuffle": 4.3}
    norm = bench._drift_normalization(timings, canaries)
    assert norm["prev_round"] >= 11
    assert norm["canary_drift_basis"] == "cpu"
    # drift equals the cpu canary's own ratio, not the class max
    assert norm["canary_drift"] == norm["canary_ratios"]["canary_cpu"]
    assert "canary_basis_disagreement" in norm
    assert "canary_class_tolerance" in norm
    assert norm["common_n"] >= 1


def test_canary_conflict_gates_by_calibrated_class_tolerance():
    """r17 (VERDICT r16 item 2): the conflict flag applies per-class
    tolerances calibrated from the same-box A/B — registry gates only
    beyond 0.35 (its reg/syn relative reading moved 0.20 within
    minutes on identical code), and the fixed class (2.81x same-code
    spread) can NEVER gate. The r16 driver artifact's readings
    (registry 0.9069 / synthetic basis 1.2758 / fixed 1.5 →
    disagreement 0.289) must now read conflict=False."""
    tol = bench.CANARY_TOLERANCE
    assert tol["fixed"] is None
    assert tol["registry"] == 0.35
    # replay the r16 driver arithmetic under the calibrated rule
    drift = 1.2758
    class_med = {"registry": 0.9069, "synthetic": 1.2758, "fixed": 1.5}
    others = {
        cls: round(abs(m / drift - 1.0), 4)
        for cls, m in class_med.items()
        if cls != "synthetic"
    }
    assert round(max(others.values()), 2) == 0.29  # raw max still visible
    over = {
        cls: d
        for cls, d in others.items()
        if tol.get(cls, 0.20) is not None and d > tol.get(cls, 0.20)
    }
    assert over == {}  # calibrated flag: no conflict on the r16 numbers
    # a genuinely anomalous registry reading still gates
    assert abs(0.5 / drift - 1.0) > tol["registry"]


def test_compact_summary_line_fits_the_driver_tail_window():
    # the final stdout line must stay far inside the ~2000-char capture;
    # rebuild it the way main() does, from a 66-line board
    # include one real overlap key so the common-set fields populate;
    # the rest are novel names (also covers the no-overlap guard path
    # for the remaining 65)
    timings = {f"b{i}_long_query_name_{i}": 1.234 for i in range(65)}
    timings["b24_corpus_v7"] = 6.454
    canaries = {"canary_cpu": 2.672, "canary_shuffle": 4.266}
    norm = bench._drift_normalization(timings, canaries)
    norm.pop("canary_ratios", None)
    line = json.dumps(
        {
            "metric": "headline_query_wall_total",
            "value": 95.708,
            "unit": "sec",
            "n_queries": len(timings),
            "canaries": canaries,
            "sf": 0.1,
            "runs_per_query": 3,
            **norm,
        }
    )
    assert len(line) < 1200, len(line)

def test_archived_runs_validation_rejects_stale_medians(tmp_path, monkeypatch):
    # ADVICE r12: when the git-archived BENCH_RUNS.json belongs to a
    # DIFFERENT round than the artifact (separate commits), the expected
    # total/n must reject it instead of silently feeding stale medians
    # into the drift ratios. Point the lookup at a repo-less dir so the
    # only candidate is the working-tree copy we control.
    stale = {"medians": {"q1": 1.0, "q2": 2.0}}
    runs_file = tmp_path / "BENCH_RUNS.json"
    runs_file.write_text(json.dumps(stale))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    # matches: accepted
    ok = bench._queries_from_archived_runs(
        "BENCH_r99.json", expect_total=3.0, expect_n=2
    )
    assert ok == {"q1": 1.0, "q2": 2.0}
    # wrong count: rejected
    assert bench._queries_from_archived_runs(
        "BENCH_r99.json", expect_total=3.0, expect_n=3
    ) == {}
    # wrong total: rejected
    assert bench._queries_from_archived_runs(
        "BENCH_r99.json", expect_total=9.0, expect_n=2
    ) == {}
    # no expectations (legacy caller): accepted as before
    assert bench._queries_from_archived_runs("BENCH_r99.json") == stale[
        "medians"
    ]


def test_compact_line_with_companion_still_fits_tail_window():
    # VERDICT r12 item 7: the companion_run block must not push the
    # compact line past the size budget
    timings = {f"b{i}_long_query_name_{i}": 1.234 for i in range(65)}
    timings["b24_corpus_v7"] = 6.454
    canaries = {"canary_cpu": 2.672, "canary_shuffle": 4.266}
    norm = bench._drift_normalization(timings, canaries)
    norm.pop("canary_ratios", None)
    norm["companion_run"] = {
        "sha": "abcdef0",
        "total": 97.123,
        "common_norm_ratio": 0.923,
    }
    line = json.dumps(
        {
            "metric": "headline_query_wall_total",
            "value": 95.708,
            "unit": "sec",
            "n_queries": len(timings),
            "canaries": canaries,
            "sf": 0.1,
            "runs_per_query": 3,
            **norm,
        }
    )
    assert len(line) < 1200, len(line)


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


def test_line_regressions_by_median_and_min():
    # VERDICT r14 item 2: regression claims must be artifact fields.
    # A line over 1.3x by median but back in band by min-of-runs is
    # noise; over by both is real — the function must separate them.
    timings = {"q_noise": 1.4, "q_real": 2.0, "q_flat": 1.0, "q_new": 3.0}
    runs = {
        "q_noise": [1.4, 1.5, 0.9],   # min 0.9 — noise
        "q_real": [2.0, 2.1, 1.9],    # min 1.9 — real
        "q_flat": [1.0, 1.0, 1.0],
        "q_new": [3.0],               # no prior — excluded everywhere
    }
    prev_med = {"q_noise": 1.0, "q_real": 1.0, "q_flat": 1.0}
    prev_runs = {"q_noise": [1.0, 1.1], "q_real": [1.0, 1.2],
                 "q_flat": [1.0]}
    reg = bench._line_regressions(timings, runs, prev_med, prev_runs)
    assert reg["over_1p3x_median"] == ["q_noise", "q_real"]
    assert reg["over_1p3x_min"] == ["q_real"]
    assert reg["ratio_median"]["q_real"] == 2.0
    assert reg["ratio_min"]["q_noise"] == 0.9
    assert "q_new" not in reg["ratio_median"]
    # prior round without archived runs: min leg degrades to empty,
    # median leg still works
    reg2 = bench._line_regressions(timings, runs, prev_med, None)
    assert reg2["over_1p3x_median"] == ["q_noise", "q_real"]
    assert reg2["ratio_min"] == {} and reg2["over_1p3x_min"] == []


def test_elastic_lines_page_only_when_over_by_both_stats():
    """r16 (VERDICT r15 items 2-3): declared CPU-elastic lines page the
    1.3x screen only over-by-BOTH median and min; their raw ratios stay
    visible in elastic_ratios either way. Non-elastic behavior is
    unchanged (previous test)."""
    el = sorted(bench.ELASTIC_LINES)[0]  # b19_prefix_filter
    timings = {el: 1.8, "q_other": 1.0}
    runs = {el: [1.8, 1.9, 0.9], "q_other": [1.0]}
    prev_med = {el: 1.0, "q_other": 1.0}
    prev_runs = {el: [1.0, 1.1], "q_other": [1.0]}
    # elastic, median 1.8x but min 0.82x -> does NOT page, ratio visible
    reg = bench._line_regressions(timings, runs, prev_med, prev_runs)
    assert reg["over_1p3x_median"] == []
    assert reg["elastic_ratios"][el] == {"median": 1.8, "min": 0.9 / 1.0}
    # over by BOTH -> still pages (a real regression moves the min too)
    runs2 = {el: [1.8, 1.9, 1.7], "q_other": [1.0]}
    reg2 = bench._line_regressions(timings, runs2, prev_med, prev_runs)
    assert reg2["over_1p3x_median"] == [el]
    assert reg2["over_1p3x_min"] == [el]
    # no archived prior runs -> min unknown -> median alone pages
    # (fail-closed: elasticity must be PROVEN by a min reading)
    reg3 = bench._line_regressions(timings, runs, prev_med, None)
    assert reg3["over_1p3x_median"] == [el]


def test_drift_normalization_with_runs_emits_regression_ledger(monkeypatch):
    # against the real committed artifacts: the prior round resolves,
    # the private _vs_prev ledger carries the full ratio maps, and the
    # compact-line field carries only counts
    _hide_r17_artifacts(monkeypatch)
    timings = {"b24_corpus_v7": 50.0, "a6_bootstrap": 0.5}
    runs = {"b24_corpus_v7": [50.0, 51.0, 49.0], "a6_bootstrap": [0.5] * 3}
    canaries = {"canary_cpu": 2.6, "canary_shuffle": 4.3,
                "canary_fixed": 0.12}
    norm = bench._drift_normalization(timings, canaries, runs=runs)
    vs = norm["_vs_prev"]
    assert vs["prev_round"] == norm["prev_round"]
    assert "b24_corpus_v7" in vs["over_1p3x_median"]  # 50 s is a regression
    assert norm["lines_over_1p3x"]["median"] == len(vs["over_1p3x_median"])
    assert norm["lines_over_1p3x"]["min"] == len(vs["over_1p3x_min"])
    # the fixed-overhead canary's CLASS must not pollute the drift
    # basis (r17: cpu-only basis; fixed stays diagnostic)
    assert norm["canary_drift_basis"] == "cpu"
    assert "canary_class_medians" in norm


def test_compact_line_with_regression_fields_fits_tail_window():
    timings = {f"b{i}_long_query_name_{i}": 1.234 for i in range(65)}
    timings["b24_corpus_v7"] = 6.454
    runs = {k: [v, v, v] for k, v in timings.items()}
    canaries = {"canary_cpu": 2.672, "canary_shuffle": 4.266,
                "canary_fixed": 0.124}
    norm = bench._drift_normalization(timings, canaries, runs=runs)
    norm.pop("canary_ratios", None)
    norm.pop("_vs_prev", None)
    norm["companion_run"] = {"sha": "abcdef0", "total": 97.123,
                             "common_norm_ratio": 0.923}
    line = json.dumps(
        {
            "metric": "headline_query_wall_total",
            "value": 95.708,
            "unit": "sec",
            "n_queries": len(timings),
            "canaries": canaries,
            "sf": 0.1,
            "runs_per_query": 3,
            **norm,
        }
    )
    assert len(line) < 1200, len(line)


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


def test_medians_from_runs_discards_query_warmup():
    # r15 warmup policy: queries discard `warmup_discard` leading
    # samples (the JIT cold run); canaries keep their own 2-warmup rule
    runs = {"q1": [5.0, 1.0, 1.2, 0.8], "canary_cpu": [25.0, 9.0, 4.0]}
    med = bench._medians_from_runs(runs, query_warmup=1)
    assert med["q1"] == 1.0
    assert med["canary_cpu"] == 4.0
    # pre-r15 docs (no warmup field) keep the old semantics
    assert bench._medians_from_runs(runs)["q1"] == 1.2


def test_medians_from_runs_applies_doc_carried_deep_warmup():
    """r16: per-line warm-up overrides are DOC-carried — replaying an
    old doc must slice where ITS main() sliced, never where the current
    DEEP_WARMUP constant says (r15 docs have no overrides field and
    must keep their medians bit-identical)."""
    runs = {"b1_snapshot_diff": [3.0, 1.2, 0.9, 0.8, 0.8, 0.8]}
    # r15-style doc: global 1-warm-up only
    assert bench._medians_from_runs(runs, query_warmup=1)[
        "b1_snapshot_diff"
    ] == 0.8  # median of [1.2, 0.9, 0.8, 0.8, 0.8]
    # r16-style doc: override 3 -> median of [0.8, 0.8, 0.8]
    assert bench._medians_from_runs(
        runs, query_warmup=1, overrides={"b1_snapshot_diff": 3}
    )["b1_snapshot_diff"] == 0.8
    runs2 = {"b1_snapshot_diff": [3.0, 1.2, 1.1, 0.9, 0.8, 0.7]}
    assert bench._medians_from_runs(runs2, query_warmup=1)[
        "b1_snapshot_diff"
    ] == 0.9
    assert bench._medians_from_runs(
        runs2, query_warmup=1, overrides={"b1_snapshot_diff": 3}
    )["b1_snapshot_diff"] == 0.8


def test_main_median_window_always_matches_the_replay_slice():
    """r17 ADVICE: the sub-second extra-runs branch and the elastic
    branch in main() once re-sliced `timed` by the GLOBAL
    warmup_discard instead of the per-line q_warmup, re-including the
    DEEP_WARMUP-discarded JIT tail for sub-second deep-warmup lines
    (b1_snapshot_diff's steady state ~0.7 s fires that branch for the
    exact line the override targets) — so the recorded median and the
    doc-carried replay disagreed. Pin: main() must never slice by
    warmup_discard after the initial q_warmup assignment, and the
    q_warmup slice must reproduce the replay's override semantics."""
    import inspect

    src = inspect.getsource(bench.main)
    assert "samples[warmup_discard:]" not in src, (
        "main() re-sliced the median window by the global discard; "
        "use samples[q_warmup:] so it matches the warmup_overrides replay"
    )
    assert src.count("samples[q_warmup:]") >= 3  # initial + subsec + elastic
    # behavioral equivalence: a b1-class series (deep warm-up 3, steady
    # state sub-second, 2 extra runs appended) medians identically under
    # main()'s slice and the doc replay with the carried override
    samples = [2.1, 1.4, 1.066, 0.7, 0.69, 0.68, 0.67, 0.66]
    q_warmup = 3
    timed = samples[q_warmup:]
    main_median = sorted(timed)[len(timed) // 2]
    replay = bench._medians_from_runs(
        {"b1_snapshot_diff": samples},
        query_warmup=1,
        overrides={"b1_snapshot_diff": 3},
    )["b1_snapshot_diff"]
    assert main_median == replay == 0.68


def test_elastic_screen_helper_requires_the_other_statistic_over():
    """r17 ADVICE: the elastic relaxation helper reads only the OTHER
    statistic (the comprehension already filtered this one > 1.3); a
    missing other-statistic fails closed (still pages)."""
    reg = bench._line_regressions(
        timings={"b19_prefix_filter": 2.0, "q_other": 2.0},
        runs={"b19_prefix_filter": [2.0, 2.0], "q_other": [2.0, 2.0]},
        prev_medians={"b19_prefix_filter": 1.0, "q_other": 1.0},
        prev_runs={"b19_prefix_filter": [1.3, 1.3], "q_other": [1.3, 1.3]},
    )
    # elastic line over by BOTH (median 2.0, min 1.54) -> pages
    assert "b19_prefix_filter" in reg["over_1p3x_median"]
    assert "q_other" in reg["over_1p3x_median"]
    # elastic over by median only -> suppressed from the median screen
    reg2 = bench._line_regressions(
        timings={"b19_prefix_filter": 2.0},
        runs={"b19_prefix_filter": [2.0, 1.2]},
        prev_medians={"b19_prefix_filter": 1.0},
        prev_runs={"b19_prefix_filter": [1.0, 1.0]},
    )
    assert reg2["ratio_min"]["b19_prefix_filter"] == 1.2
    assert "b19_prefix_filter" not in reg2["over_1p3x_median"]
    # elastic over by median with NO min data -> fails closed, pages
    reg3 = bench._line_regressions(
        timings={"b19_prefix_filter": 2.0},
        runs={"b19_prefix_filter": [2.0]},
        prev_medians={"b19_prefix_filter": 1.0},
        prev_runs=None,
    )
    assert "b19_prefix_filter" in reg3["over_1p3x_median"]


def test_canary_adjudication_when_classes_disagree_past_0p40(monkeypatch):
    """r18 (VERDICT r17 item 5): a >= 0.40 class disagreement must carry
    an explicit ruling — the drift basis (cpu) is authoritative — not
    just the conflict flag. Below 0.40, no adjudication block."""
    _hide_r17_artifacts(monkeypatch)
    timings = {"a6_bootstrap": 0.5}
    # cpu ratio will be ~0.78 vs a registry ratio ~1.17+ -> disagreement
    # |1.17/0.78 - 1| >= 0.40 (mirrors the r17 driver reading)
    canaries = {"canary_cpu": 2.0}
    prevs = bench._drift_normalization(timings, canaries)
    if not prevs:
        pytest.skip("no committed bench artifact to normalize against")
    # synthesize directly against the helper's contract instead of the
    # committed artifact's values: feed timings whose registry ratio is
    # far from the cpu ratio
    import json as _json
    import glob as _glob
    import os as _os
    import re as _re

    here = _os.path.dirname(_os.path.abspath(bench.__file__))
    arts = sorted(
        (int(m.group(1)), p)
        for p in _glob.glob(_os.path.join(here, "BENCH_r*.json"))
        for m in [_re.search(r"BENCH_r(\d+)\.json$", p)]
        if m
    )
    arts = [a for a in arts if a[0] != 17]  # r17 is hidden above
    assert arts, "committed bench artifacts expected in the repo"
    # load the newest artifact's canary values so ratios are exact
    with open(arts[-1][1]) as f:
        data = _json.load(f)
    prev_can = (data.get("parsed") or {}).get("canaries") or {}
    if "canary_cpu" not in prev_can:
        pytest.skip("newest bench artifact carries no canary_cpu reading")
    prev_cpu = float(prev_can["canary_cpu"])
    prev_reg = None
    runs = bench._queries_from_archived_runs(
        _os.path.basename(arts[-1][1]), expect_total=None, expect_n=None
    )
    for c in bench.CANARIES:
        if runs and c in runs:
            prev_reg = (c, float(runs[c]))
            break
    if prev_reg is None:
        pytest.skip("newest bench artifact's archived runs hold no canary line")
    reg_name, reg_prev = prev_reg
    # cpu ratio 0.78, registry ratio 1.17 -> disagreement ~0.50
    norm = bench._drift_normalization(
        {reg_name: reg_prev * 1.17}, {"canary_cpu": prev_cpu * 0.78}
    )
    adj = norm.get("canary_basis_adjudication")
    assert adj and adj["authoritative"] == "cpu"
    # and a mild disagreement does NOT adjudicate — derive the effective
    # prior value from the ratio the helper itself reported, so the
    # archived-runs warmup slicing cannot skew the synthetic reading
    prev_eff = (reg_prev * 1.17) / norm["canary_ratios"][reg_name]
    prev_cpu_eff = (prev_cpu * 0.78) / norm["canary_ratios"]["canary_cpu"]
    norm2 = bench._drift_normalization(
        {reg_name: prev_eff * 1.05}, {"canary_cpu": prev_cpu_eff * 0.95}
    )
    assert norm2["canary_basis_disagreement"] < 0.40
    assert "canary_basis_adjudication" not in norm2


def test_deep_warmup_covers_the_r18_jit_tail_lines():
    """r18: b30_bpe_encode / b30_assoc_rules joined DEEP_WARMUP after
    the interleaved A/B showed 3-sample JIT tails on identical code
    (raw traces in OPTIMIZATION_r18.md). Replay stays doc-carried."""
    assert bench.DEEP_WARMUP["b30_bpe_encode"] == 3
    assert bench.DEEP_WARMUP["b30_assoc_rules"] == 3


def test_side_leg_baseline_is_raw_only_and_same_round():
    """r18: BENCH_r17.json's archived-runs replay fails its own value
    check (the committed BENCH_RUNS.json is the driver's C8 leg), so
    normalization must fall back to the SAME round's side leg — flagged
    via baseline_leg, with canary normalization disabled (a c8 cpu
    canary would 'normalize' a c32 run by ~4x) — never silently to a
    two-round-stale r16 baseline."""
    norm = bench._drift_normalization(
        {"a6_bootstrap": 0.4, "b24_corpus_v7": 3.7}, {"canary_cpu": 3.2}
    )
    if not norm:
        pytest.skip("no committed bench artifact to normalize against")
    assert norm["prev_round"] == 17
    assert norm["baseline_leg"] == "c8"
    assert norm["canary_drift"] is None
    assert "common_raw_ratio" in norm and "common_norm_ratio" not in norm
