"""The spark-submit entry point (jobs/run_pipeline.py) end-to-end: one
subprocess run builds the tier cascade + encoded tier with retention;
a second run over the same output is a pure no-op resume (nothing
reprocessed, expired days never resurrected) — the north rule's
"resumable from snapshot checkpoints" surface, exercised exactly the
way a cluster operator would re-submit the job."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(out_dir: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--n-urls", "30",
            "--out", out_dir,
            "--tiers", "1m", "1h",
            "--keep-days", "2",
            "--cores", "8",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_pipeline_job_builds_then_resumes_noop(tmp_path):
    out = str(tmp_path / "tiers")
    r1 = _run(out)
    assert r1["tiers"]["1m"]["processed_days"] > 0
    assert r1["tiers"]["1m"]["expired_days"] >= 0
    assert r1["encode"]["processed_buckets"] > 0
    assert r1["encode"]["points"] > 0
    assert 0 < r1["encode"]["ratio"] < 1

    r2 = _run(out)
    # pure resume: nothing recomputed at any layer, retention holds
    assert r2["tiers"]["1m"]["processed_days"] == 0
    assert r2["tiers"]["1h"]["processed_days"] == 0
    assert r2["tiers"]["1m"]["expired_days"] == 0
    assert r2["encode"]["processed_buckets"] == 0
    # the 1m tier reads a computed frame and is fingerprinted by content;
    # the 1h tier and the encoded table see the 1m files unchanged
    assert r2["tiers"]["1m"]["fingerprinted_days"] == r1["tiers"]["1m"]["processed_days"]
    assert r2["tiers"]["1h"]["fingerprinted_days"] == 0
    assert r2["encode"]["fingerprinted_buckets"] == 0
    assert r2["encode"]["points"] == r1["encode"]["points"]
