#!/usr/bin/env python3
"""Record the query mix's expected fingerprints (perfbench/expected.json).

For each of a few seeds: run the query mix once, dump every key's result,
and check the dump against each key's DuckDB oracle on the same inputs with
the repo's `tools/check_oracle.py --exact` (bit-exact floats). The
fingerprints are written only when every dump passes and every key's
fingerprint is identical across the seeds (that is, does not depend on
input row order).

  python3 perfbench/record_expected.py [--seeds 1 2 3]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402

CHECK_ORACLE = os.path.join(run.ROOT, "tools", "check_oracle.py")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    a = ap.parse_args()
    os.makedirs(run.BUILD_DIR, exist_ok=True)
    work = tempfile.mkdtemp(dir=run.BUILD_DIR)
    try:
        none = os.path.join(work, "none.json")
        with open(none, "w") as f:
            f.write("{}")
        seen, bad = {}, []
        for seed in a.seeds:
            data, dump = f"{work}/data-{seed}", f"{work}/dump-{seed}"
            inputs.stage("query_mix", seed, data)
            res = run.run("query_mix", seed, 0, 0, expected=none, dump=dump)
            with open(f"{dump}/oracle_sql.json") as f:
                sql = json.load(f)
            for k in run.WORKLOADS["query_mix"]:
                if k not in sql:
                    bad.append(f"{k}: no oracle SQL")
            check = subprocess.run(
                [sys.executable, CHECK_ORACLE, data, dump, "--exact"],
                capture_output=True, text=True)
            if check.returncode != 0:
                bad.append(f"seed {seed}: check_oracle.py --exact failed:\n"
                           f"{check.stdout[-3000:]}{check.stderr[-3000:]}")
            for k, fp in res["fingerprints"].items():
                if seen.setdefault(k, fp) != fp:
                    bad.append(f"{k}: fingerprint {fp} at seed {seed}, "
                               f"{seen[k]} before")
        if bad:
            print("\n".join(bad))
            sys.exit(1)
        with open(run.EXPECTED, "w") as f:
            f.write("{\n" + ",\n".join(f" {json.dumps(k)}: {json.dumps(v)}"
                                       for k, v in sorted(seen.items()))
                    + "\n}\n")
        print(f"recorded {len(seen)} fingerprints in {run.EXPECTED}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
