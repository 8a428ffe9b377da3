#!/usr/bin/env python3
"""Cross-parallelism determinism check: run Verify on one scale factor at
several core counts and require every query's output to be the same in
each run, under check_oracle.py's compare rule (columns by name, rows
sorted, exact values).

    python3 tools/check_determinism.py <sf_dir> [work_dir]

work_dir defaults to a fresh temp dir. Runs Verify through
tools/run_tool.sh (compile first with `sbt compile`) at
SPARK_GRAFT_CPUS=1, 7 and 32, one run after another, and prints one line
per query that differs, then a count. Exits non-zero on any divergence or
failed run."""
import glob, json, os, subprocess, sys, tempfile

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import compare

CPUS = (1, 7, 32)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def verify(sf_dir: str, out_dir: str, cpus: int) -> None:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(f"{out_dir}.log", "w") as log:
        subprocess.run([f"{REPO}/tools/run_tool.sh", "graft.Verify", sf_dir, out_dir],
                       env=env, stdout=log, stderr=subprocess.STDOUT, check=True)

def read(out_dir: str, name: str) -> pd.DataFrame:
    return pd.concat(pd.read_parquet(f) for f in sorted(glob.glob(f"{out_dir}/{name}/*.parquet")))

def main(sf_dir: str, work: str) -> int:
    os.makedirs(work, exist_ok=True)
    outs = {c: f"{work}/c{c}" for c in CPUS}
    for c, out in outs.items():
        print(f"verify at SPARK_GRAFT_CPUS={c} -> {out}", flush=True)
        verify(sf_dir, out, c)
    base, *rest = CPUS
    with open(f"{outs[base]}/oracle_sql.json") as f:
        names = sorted(json.load(f))
    diverging = 0
    for name in names:
        ref = read(outs[base], name)
        for c in rest:
            why = compare(read(outs[c], name), ref)
            if why:
                print(f"DIVERGE {name}: cpus={c} vs cpus={base}: {why}")
                diverging += 1
    print(f"{len(names)} queries, {diverging} divergences across cpus {CPUS}")
    return 1 if diverging else 0

if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    work = sys.argv[2] if len(sys.argv) == 3 else tempfile.mkdtemp(prefix="determinism_")
    sys.exit(main(sys.argv[1], work))
