#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the row count each benchmarked
request must return on the committed inputs (perfbench/data).

Runs graft.Verify over every request of every workload, checks its
outputs against the DuckDB oracle with tools/local_verify.py, and records
each request's row count with its oracle status. A request whose oracle
check fails (or that has no oracle) is recorded with "oracle": "fail"
(or "none") and no row count.

Usage (from the repository root): python3 perfbench/make_expected.py
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
from run import JDK17_OPENS  # noqa: E402


def main():
    spec = json.loads((HERE / "workloads.json").read_text())
    names = sorted({n for wl in spec["workloads"].values() for n in wl["requests"]})
    classes = build.ensure()
    work = build.build_dir() / "expected"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "verify_out"
    # Verify lands per-input scratch under graft.Tables.scratchDir, named
    # after the input dir: a private copy makes those entries ours to delete
    data = work / "input"
    shutil.copytree(HERE / "data", data)
    cmd = ["java", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graft.Verify", str(data), str(out), ",".join(names)]
    subprocess.run(cmd, check=True, cwd=work, stdout=subprocess.DEVNULL,
                   stderr=open(work / "verify.log", "w"))
    oracle = subprocess.run([sys.executable, str(build.ROOT / "tools" / "local_verify.py"),
                             str(data), str(out)], capture_output=True, text=True)
    passed = set(re.findall(r"✓ (\S+) \(", oracle.stdout))
    unchecked = set(re.findall(r"~ (\S+): no oracle", oracle.stdout))
    requests = {}
    for n in names:
        if n in passed:
            rows = pq.ParquetDataset(str(out / n)).read().num_rows
            requests[n] = {"rows": rows, "oracle": "pass"}
        else:
            requests[n] = {"rows": None, "oracle": "none" if n in unchecked else "fail"}
    (HERE / "expected.json").write_text(json.dumps({
        "inputs": "perfbench/data (the sf0.01 star schema, events, documents, embeddings)",
        "source": "graft.Verify outputs accepted by tools/local_verify.py",
        "requests": requests}, indent=1, sort_keys=True) + "\n")
    print(oracle.stdout.strip().splitlines()[-1])
    tag = re.sub(r"[^A-Za-z0-9._-]", "_", str(data))
    for scratch in (work / "tmp", Path("/dev/shm/graft-spark-scratch")):
        for p in scratch.glob(f"*{tag}*"):
            shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
