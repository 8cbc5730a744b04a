"""What one run does, derived from the workload name and the seed alone.

The seed picks which NVD feed shards are held back from the bootstrap and
which loaded shard each incremental load re-reads, and the order the
iterative workload runs its queries in.  Expected NVD counts follow from
`NvdFixtureGen`'s index rules, so they do not depend on the seed.  The
iterative queries read the repo's sf 0.01 reference tables, committed under
`perfbench/data/sf0.01`.
"""
import os
import random

# iterative: driver-side fixpoint rounds (k-core peeling, connected
# components) and the minhash-LSH dedup pipeline
ITERATIVE = ["graph_kcore", "graph_connected_components", "dedup_minhash_lsh"]

WORKLOADS = {"nvd_etl": [], "iterative": ITERATIVE}

# NVD feeds: NVD_CVES generated CVEs in NVD_SHARDS equal shards, of which
# NVD_HELD are held back from the bootstrap and loaded incrementally.
NVD_CVES = 2000
NVD_SHARDS = 4
NVD_HELD = 2

# The reference tables the iterative queries read (sf 0.01: 15,000 orders,
# 60,000 lineitems, 500 documents).
TABLES = ["orders", "lineitem", "documents"]
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def linux_hits(n):
    """CVEs among k < n that the README linux query matches: a linux
    cpe23Uri sits in nodes[].cpe_match[] when k % 3 == 0, and the node list
    is empty when k % 11 == 0."""
    return sum(1 for k in range(n) if k % 3 == 0 and k % 11 != 0)


def nvd_split(seed):
    rng = random.Random(seed)
    held_back = rng.sample(range(NVD_SHARDS), NVD_HELD)
    boot = sorted(set(range(NVD_SHARDS)) - set(held_back))
    loads = [[h, rng.choice(boot)] for h in held_back]
    return boot, loads


def nvd_expected():
    per = NVD_CVES // NVD_SHARDS
    return {"bootstrap": per * (NVD_SHARDS - NVD_HELD), "load": per,
            "count": NVD_CVES, "linux": linux_hits(NVD_CVES)}


def make(workload, seed, seconds, trace, work, tables, cpus, setup_reps):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; "
                         f"expected one of {sorted(WORKLOADS)}")
    queries = list(WORKLOADS[workload])
    random.Random(seed).shuffle(queries)
    plan = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "cpus": cpus, "setup_reps": setup_reps,
            "work": work, "tables": tables, "queries": queries}
    if workload == "nvd_etl":
        assert NVD_CVES % NVD_SHARDS == 0
        boot, loads = nvd_split(seed)
        plan["nvd"] = {"cves": NVD_CVES, "shards": NVD_SHARDS,
                       "bootstrap": boot, "loads": loads,
                       "expected": nvd_expected()}
    return plan


def nvd_step_expected(name, expected):
    """Expected return value of one NVD step, by step name."""
    if name.startswith("load"):
        return expected["load"]
    return expected[name]
