"""Seeded workload generators.

Each generator turns a workload seed into the inputs the JVM side replays
(replica count and start columns, or a query list) plus a dict of
the workload's properties, which run.py prints. The same seed always gives
the same inputs.
"""
import random
from collections import Counter

REPLICAS = 2
START_POOL = ["amount", "o_totalprice", "o_custkey", "o_orderdate", "ts", "value",
              "user_id", "l_quantity", "l_extendedprice", "p_retailprice",
              "c_acctbal", "order_date", "customer_id", "daily_spend", "price",
              "total_qty"]
STARTS = 6


def lineage_build(seed, single):
    """K replicas of the repo DAG and seeded closure start columns; `single`
    holds the recorded single-replica counts the checks scale by K."""
    rng = random.Random(seed)
    starts = rng.sample(START_POOL, STARTS)
    props = {"replicas": REPLICAS, "scripts": 12 * REPLICAS,
             "edges": REPLICAS * single["edges"], "links": REPLICAS * single["links"],
             "docs": REPLICAS * single["docs"], "starts": starts}
    return {"replicas": REPLICAS, "starts": starts}, props


# The subset's membership is drawn once, with this fixed seed, so that every
# workload seed times the same queries; the workload seed sets their order.
SUITE_SELECTION_SEED = 0


def query_suite(seed, registry, recorded):
    """A subset of the registry, stratified by module: all of `Pipelines`
    (q01-q12) plus one query of every other module. Only queries with
    recorded answers are eligible. The subset runs in the order the workload
    seed gives."""
    pick = random.Random(SUITE_SELECTION_SEED)
    by_module = {}
    for module, name in registry:
        if name in recorded:
            by_module.setdefault(module, []).append(name)
    chosen = []
    for module, names in by_module.items():
        chosen += names if module == "Pipelines" else [pick.choice(sorted(names))]
    random.Random(seed).shuffle(chosen)
    module_of = {n: m for m, n in registry}
    props = {"queries": len(chosen),
             "per_module": dict(sorted(Counter(module_of[n] for n in chosen).items())),
             "unrecorded": sorted(n for _, n in registry if n not in recorded),
             "order": chosen}
    return {"queries": chosen}, props
