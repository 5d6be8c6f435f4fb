"""North-rule launch mode, end-to-end: `spark-submit --py-files <pkg.zip>
transcriptts/cli.py` in a FRESH JVM/process — synth, tiered rollup pipeline
(manifest + lineage on disk), and the bench JSON contract. This is the exact
invocation shape a multi-executor cluster would use; everything else in the
suite shares the test session, so only this file proves the packaged-module
path works with no repo on sys.path."""

from __future__ import annotations

import json
import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "transcriptts")
        for dirpath, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, REPO))


def _submit(zip_path: str, cli_args: list[str], cwd: str) -> str:
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--py-files", zip_path,
        os.path.join(REPO, "transcriptts", "cli.py"),
        *cli_args,
    ]
    # cwd is a scratch dir (NOT the repo), so the driver resolves the
    # package from --py-files alone — import leaks from ./transcriptts
    # would go unnoticed if we ran from the repo root. SPARK_GRAFT_CPUS
    # names another core count than --master: the launcher's value must win.
    env = {**os.environ, "SPARK_GRAFT_CPUS": "3"}
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=cwd, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def _last_json(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in output: {stdout[-500:]}")


def test_spark_submit_pipeline_end_to_end(tmp_path):
    zip_path = str(tmp_path / "transcriptts.zip")
    _make_zip(zip_path)
    data = str(tmp_path / "turns.parquet")
    root = str(tmp_path / "tiers")
    cwd = str(tmp_path)

    r = _last_json(_submit(zip_path, ["synth", "--out", data, "--convs", "150", "--slices", "8"], cwd))
    assert r["rows"] > 0

    rep = _last_json(_submit(zip_path, ["rollup", "--input", data, "--root", root], cwd))
    assert set(rep["metrics"]) == {"1m", "1h", "1d"}
    for t in ("1m", "1h", "1d"):
        assert rep["metrics"][t]["rows"] > 0 and rep["metrics"][t]["bytes"] > 0
        assert os.path.isdir(os.path.join(root, f"tier={t}"))
    # snapshot manifest + per-run lineage on disk (resumable-pipeline contract)
    assert os.path.exists(os.path.join(root, "state.json"))
    lineage_files = os.listdir(os.path.join(root, "lineage"))
    assert len(lineage_files) == 3
    lin = json.load(open(os.path.join(root, "lineage", lineage_files[0])))
    assert lin["rows"] > 0 and lin["partitions"]

    b = _last_json(_submit(zip_path, ["bench", "--input", data, "--passes", "1"], cwd))
    assert b["turns"] == r["rows"] and b["tiers"] == 3
    assert b["turns_per_sec"] > 0
    assert b["cores"] == 4  # --master local[4], not SPARK_GRAFT_CPUS
