"""Seeded benchmark inputs.

Every input is a deterministic function of (workload, seed). The seed
permutes row order, so each seed gives another physical layout of the same
logical data and the work per operation does not depend on it; for the GVT
workload it also picks the ranges its ranged operations touch.

Sources, committed under fixture/ (copies of the repo's deterministic
synthetic test corpus):
  sf0.01/  the ten tables at sf0.01
  sf0.1/   documents at sf0.1: 5,000 documents whose near-duplicate
           structure (309,580 PPJoin candidates for 256 pairs at
           jaccard >= 0.5) gives the n-gram near-dup key executor work
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def stage(workload: str, seed: int, out_dir: str) -> None:
    """Write the workload's input tables to out_dir/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "gvt_commit_mix":
        t = pq.read_table(f"{FIXTURE}/sf0.01/lineitem.parquet")
        # lineitem has no unique key; l_id (the row's fixture position)
        # is one, and it does not depend on the seed's row order
        t = t.append_column("l_id", pa.array(np.arange(t.num_rows)))
        _write(_permuted(t, rng), f"{out_dir}/lineitem.parquet")
        with open(f"{out_dir}/gvt_plan.json", "w") as f:
            json.dump(gvt_plan(seed, t.num_rows), f, indent=1)
    else:
        for name in TABLES:
            sf = "sf0.1" if name == "documents" else "sf0.01"
            t = pq.read_table(f"{FIXTURE}/{sf}/{name}.parquet")
            _write(_permuted(t, rng), f"{out_dir}/{name}.parquet")


# One GVT pass: create, load batch 0, then a merge (upsert), an update and
# a DV delete over seeded ranges, a second append (so that compact has two
# files to bin-pack and deletion vectors to absorb), then compact, vacuum,
# a manifest read and a final latest read. The load, the merge, the update
# and the DV delete are each followed by one read that checks the result:
# a latest read after the load, a time-travel read (to the version before
# the merge) after the merge, a pruned read after the update, and a latest
# read, which pays the delete's anti-join, after the DV delete. One read
# per write is what fits the run budget; it is not measured from a real
# table's traffic. Each operation's cost depends on the table state the
# ones before it left (ranged writes rewrite every file they touch; a
# pruned read after the merge took 130 ms, after the load or the update
# 190-200 ms), so the order is fixed and the seed picks only the ranges
# and the input's row order: it changes neither the amount of work nor
# the table state any operation sees.
GVT_RANGE = 0.05  # share of the l_id span a ranged op touches


def gvt_plan(seed: int, rows: int) -> list:
    """The seeded GVT operation sequence of one pass."""
    rng = np.random.default_rng([seed, 1])
    width = int(rows * GVT_RANGE)

    def ranged(op):
        lo = int(rng.integers(0, rows - width))
        return {"op": op, "lo": lo, "hi": lo + width - 1}

    return [{"op": "append", "batch": 0}, {"op": "read_latest"},
            ranged("merge"), {"op": "time_travel", "back": 1},
            ranged("update"), ranged("pruned_read"),
            ranged("delete_dv"), {"op": "read_latest"},
            {"op": "append", "batch": 1}, {"op": "compact"}, {"op": "vacuum"},
            {"op": "snapshot"}, {"op": "read_latest"}]
