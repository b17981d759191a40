"""The tracing-overhead baseline uses only runs of the same code and seed."""

import json
import types

from perfbench import run


def test_untraced_wall_reads_only_matching_runs(tmp_path, monkeypatch):
    log = tmp_path / "untraced.jsonl"
    monkeypatch.setattr(run, "UNTRACED", log)
    monkeypatch.setattr(run, "code_key", lambda: "new")
    monkeypatch.setattr(run, "run_untraced_child", lambda args, budget_s: -1.0)
    recs = [("new", "full_build", 1, 60.0), ("new", "full_build", 1, 64.0),
            ("new", "full_build", 1, 70.0), ("old", "full_build", 1, 10.0),
            ("new", "full_build", 2, 10.0), ("new", "doc_dedup", 1, 10.0)]
    log.write_text("".join(
        json.dumps({"code": c, "workload": w, "seed": s, "wall_s": v}) + "\n"
        for c, w, s, v in recs))
    args = types.SimpleNamespace(workload="full_build", seed=1)
    assert run.untraced_wall(args, 100) == 64.0
    # no run of this code and seed yet: one untraced child run
    assert run.untraced_wall(types.SimpleNamespace(workload="full_build", seed=3), 100) == -1.0

