"""Seeded inputs of every workload. Everything a run does is decided here,
from the seed and the fixture, before the program starts: the registry draw,
the table-io op list, and the state workload's base/batch split and probes.
The same seed gives the same plan and the same input hashes."""
import hashlib
import json
import os
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("registry", "table-io", "state")
FIXTURE = "perfbench/fixture"
TABLE_OPS = ("scan_full", "scan_pruned", "read_typed", "tail", "stats",
             "write_partition", "write_dynamic", "compact")
MASK = (1 << 64) - 1

# Sizes, fixed here so that both sides of a comparison run the same plan.
# The work of a run is fixed by --seconds (at 12 s: 10 queries, 3 table-io
# cycles, 1 state round), sized so that a run with its two set-ups and its
# checks takes 25-75 s on a 4-core box. A slower box takes longer instead of
# measuring fewer ops, so the sample count does not move with box speed.
SETUP_REPS = 2           # set-up repetitions per run; setup_s is their median
TABLE_COPIES = 2         # key-offset lineitem copies in the table-io warehouse
QUERIES_PER_S = 0.84     # registry queries per second of run length, up to the panel
CYCLES_PER_S = 0.25      # table-io cycles (of eight ops) per second
STATE_BASE_PCT = 80      # share of keys in the base; the rest is one daily batch per round
MODEL_IDS = 32           # smallest vector ids, kept in the base (ANN/SRP model)


def rng_for(workload, seed):
    return random.Random(f"{workload}:{seed}")


def splitmix64(x):
    x = (x + 0x9E3779B97F4A7C15) & MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK
    return x ^ (x >> 31)


def part_of(key, salt, batches, base_pct=STATE_BASE_PCT):
    """0 for the base, else the 1-based batch, by seeded key hash."""
    h = splitmix64((key ^ salt) & MASK)
    if h % 100 < base_pct:
        return 0
    return 1 + (h >> 32) % batches


def column(root, table, name):
    return pq.read_table(os.path.join(root, FIXTURE, f"{table}.parquet"), columns=[name]).column(0)


def distinct_keys(root, table, name):
    return sorted(set(column(root, table, name).to_pylist()))


# The registry panel: a uniform draw without replacement over the whole
# 307-entry registry, made once and written down, so that a change to the
# registry does not change what is measured. A run uses a prefix of it (any
# prefix of a uniform draw is one); the run seed orders the queries. None of
# these queries serves from a GraphArtifact.
REGISTRY_PANEL = (
    "q121_null_battery", "q97_forward_fill", "q73_tfidf_topterms", "q47_in_subquery",
    "q205_bpe_subwords", "q68_label_centroids", "q145_bitmask_agg", "q152_grouping_id",
    "q204_benford_audit", "q112_dist_moments", "q115_mode_median", "q45_multimodal_meta",
    "q201_minhash_calibration", "q208_ann_trained_recall", "q147_asof_merge")
# a query outside the panel that warms the query path during set-up
REGISTRY_WARMUP = "q01_scan_projection"


def registry_plan(seed, names, size):
    """The first `size` panel queries in seeded order; raises if the
    registry lost a panel query."""
    chosen = list(REGISTRY_PANEL[:size])
    missing = sorted(set(chosen + [REGISTRY_WARMUP]) - set(names))
    if missing:
        raise ValueError(f"registry panel queries not in the registry: {missing}")
    return {"draw": rng_for("registry", seed).sample(chosen, len(chosen)),
            "warmup": REGISTRY_WARMUP}


def table_io_plan(seed, years, cycles):
    """Cycles of the eight op kinds, each cycle in a seeded order with
    seeded partitions, so every run has the same op mix."""
    rng = rng_for("table-io", seed)
    ops = []
    for _ in range(cycles):
        kinds = list(TABLE_OPS)
        rng.shuffle(kinds)
        for k in kinds:
            op = {"op": k}
            if k in ("scan_pruned", "read_typed", "write_partition"):
                op["year"] = rng.choice(years)
            if k == "write_dynamic":
                op["years"] = sorted(rng.sample(years, 2))
            ops.append(op)
    return {"ops": ops, "copies": TABLE_COPIES}


def state_plan(seed, keys, batches):
    """`keys`: table -> sorted distinct keys. Returns the split and probes."""
    rng = rng_for("state", seed)
    salt = rng.getrandbits(64)
    model = set(keys["embeddings"][:MODEL_IDS])
    splits = {}
    for table, ks in keys.items():
        parts = [0 if (table == "embeddings" and k in model) else part_of(k, salt, batches) for k in ks]
        splits[table] = {"keys": ks, "parts": parts}
    probes = {"documents": sorted(rng.sample(keys["documents"], 50)),
              "embeddings": sorted(rng.sample(keys["embeddings"], 16))}
    return {"splits": splits, "probes": probes, "batches": batches}


def years_of(root):
    return sorted(set(pc.year(column(root, "lineitem", "l_shipdate")).to_pylist()))


def state_keys(root):
    return {"documents": distinct_keys(root, "documents", "doc_id"),
            "embeddings": distinct_keys(root, "embeddings", "vec_id"),
            "items": distinct_keys(root, "lineitem", "l_orderkey"),
            "clicks": distinct_keys(root, "events", "user_id")}


def make(workload, seed, root, registry_names, seconds):
    if workload == "registry":
        body = registry_plan(seed, registry_names, max(2, round(QUERIES_PER_S * seconds)))
    elif workload == "table-io":
        body = table_io_plan(seed, years_of(root), max(2, round(CYCLES_PER_S * seconds)))
    elif workload == "state":
        # one round (append + serve every operator) per 12 s of run length
        body = state_plan(seed, state_keys(root), max(1, round(seconds / 12)))
    else:
        raise ValueError(f"unknown workload {workload}")
    body.update(workload=workload, seed=seed, setup_reps=SETUP_REPS)
    return body


def input_hashes(root, body):
    """sha256 of the fixture bytes and of the seeded part of the plan."""
    fx = hashlib.sha256()
    fixture = os.path.join(root, FIXTURE)
    for name in sorted(os.listdir(fixture)):
        with open(os.path.join(fixture, name), "rb") as fh:
            fx.update(name.encode() + hashlib.sha256(fh.read()).digest())
    seeded = {k: v for k, v in body.items() if k in ("draw", "ops", "splits", "probes")}
    return {"fixture": fx.hexdigest()[:16],
            "plan": hashlib.sha256(json.dumps(seeded, sort_keys=True).encode()).hexdigest()[:16]}
