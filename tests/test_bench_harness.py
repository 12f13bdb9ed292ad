"""The bench harness without Spark: the gated scaling phase and the
driver-facing summary line.

The scaling measurement, the host-ceiling probe and the gate's sleep are
replaced by fakes, and a pre-made images path skips table generation, so
these tests check only the harness logic: exactly one pinned pair per
run, labelled ``met`` or ``fallback``, and a last stdout line that parses
and fits the driver's 2000-byte tail.
"""

from __future__ import annotations

import json
import time
import types

import pytest

import bench


@pytest.fixture()
def fake_host(monkeypatch):
    """Fakes for the pinned pair and the host ceiling; the gate loop itself
    stays real (its single-core probe runs, its sleep does not)."""
    calls = {"gate": 0, "pairs": [], "ceilings": [], "ceiling_values": []}

    def fake_ceiling(p_lo, p_hi, n_tasks=32):
        eff = calls["ceiling_values"].pop(0)
        calls["ceilings"].append((p_lo, p_hi, n_tasks))
        return {f"host_numpy_sec@{p_lo}": 4.0, f"host_numpy_sec@{p_hi}": 1.0,
                "host_ceiling_efficiency": eff}

    def fake_measurement(p, images_path, ckpt_dir, n_images):
        calls["pairs"].append(p)
        return {"wall": 40.0 / p, "lineage_partitions": 8}

    real_gate = bench._wait_for_quiet_host

    def counting_gate(*args, **kwargs):
        calls["gate"] += 1
        return real_gate(*args, **kwargs)

    monkeypatch.setattr(bench, "host_ceiling", fake_ceiling)
    monkeypatch.setattr(bench, "_scale_measurement", fake_measurement)
    monkeypatch.setattr(bench, "_wait_for_quiet_host", counting_gate)
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(time=time.time, sleep=lambda s: None))
    monkeypatch.setenv("SPARK_GRAFT_HEALTHY_PROBE_S", "999")  # probe always quiet
    monkeypatch.setenv("SPARK_GRAFT_GATE_CEILING", "0.85")
    monkeypatch.setenv("SPARK_GRAFT_SCALE_PAIR", "2,8")
    return calls


def test_scaling_gate_met_on_second_poll(fake_host, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCALE_BUDGET_S", "600")
    # gate polls: 0.5 (host cannot scale), 0.95 (met); then the post-pair probe
    fake_host["ceiling_values"] = [0.5, 0.95, 0.9]
    rec = bench.run_scaling(1000, images_path=str(tmp_path / "images"))

    assert fake_host["gate"] == 1
    assert fake_host["pairs"] == [2, 8]  # exactly one pair
    assert rec["gate"] == "met"
    assert [p["ceiling"] for p in rec["gate_polls"]] == [0.5, 0.95]
    assert rec["pre_pair_ceiling"] == 0.95
    assert rec["host_ceiling_efficiency"] == 0.9  # the post-pair probe
    assert rec["scaling_efficiency_2_to_8"] == 1.0
    assert rec["images_tiled_per_sec@local[8]"] == 200.0
    assert rec["lineage_partitions@local[2]"] == 8
    assert "generate_sec" not in rec  # the given table was used


def test_scaling_gate_never_met_falls_back(fake_host, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCALE_BUDGET_S", "0.3")
    fake_host["ceiling_values"] = [0.5] * 1000
    rec = bench.run_scaling(1000, images_path=str(tmp_path / "images"))

    assert fake_host["gate"] == 1
    assert fake_host["pairs"] == [2, 8]  # still exactly one pair
    assert rec["gate"] == "fallback"
    assert rec["gate_polls"] and all(p["ceiling"] == 0.5 for p in rec["gate_polls"])
    assert rec["gate_waited_s"] >= 0.3
    # every gate poll took a 16-task ceiling, the post-pair probe 32 tasks
    assert fake_host["ceilings"][-1] == (2, 8, 32)
    assert len(fake_host["ceilings"]) == len(rec["gate_polls"]) + 1


def test_summary_line_fits_driver_tail(fake_host, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCALE_BUDGET_S", "600")
    fake_host["ceiling_values"] = [0.95, 0.912345]
    scaling = bench.run_scaling(300_000, images_path=str(tmp_path / "images"))
    # a long headline: 40 queries of 6 significant digits, many reps
    headline = {
        "queries": {name: 123.456 for name in bench.HEADLINE},
        "query_walls": {name: [123.456] * 5 for name in bench.HEADLINE},
        "host_probe_per_rep": [0.123456] * 6,
        "headline_rep_totals": [4938.24] * 5,
        "headline_reps": 5,
    }
    line = bench.summary_line("headline queries + images-tiled/sec, pinned scaling pair",
                              0.1, 300_000, headline, scaling)

    assert len(line.encode("utf-8")) < 2000
    summary = json.loads(line)
    assert list(summary["queries"]) == bench.HEADLINE
    assert summary["value"] == round(40 * 123.456, 3)
    assert summary["host_probe_before_sec"] == 0.123456
    assert summary["gate"] == "met"
    assert summary["host_ceiling_efficiency"] == 0.912345
    assert {"images_tiled_per_sec@local[2]", "images_tiled_per_sec@local[8]",
            "scaling_efficiency_2_to_8"} <= set(summary)
    # per-rep and per-poll detail stays out of the driver line
    assert not {"query_walls", "gate_polls", "gate_waited_s",
                "pre_pair_ceiling", "lineage_partitions@local[2]"} & set(summary)
