#!/usr/bin/env python3
"""Seeded generator of the benchmark's inputs.

DP workloads get a script of one analyst session: a finite ApproxDP
budget, one cached view, one partitionAndCreate and a fixed mix of releases
whose parameters, budgets and order come from the seed. The JVM side turns
each line into the query it names and nothing more. The session's `end`
line carries the budget that must remain afterwards, computed here in exact
fractions.

pipeline_heavy gets a seeded order of its fixed operator list.

Usage: python3 perfbench/gen_script.py <dp|pipeline> <seed>
"""
import random
import sys
from fractions import Fraction

# A session is 22 ops: the view, its first use (a count that pays the
# view's materialization), then a fixed skeleton of ten plain counts on
# lineitem and three joins, with the seven other
# ops (partition, clamped, quantile, hist, ids, keyset, detect) in seeded
# order between them. The weights keep both percentiles inside one latency
# band: the 11 counts, the fixed floor of a release, cover ranks 3-13 of 22,
# around the median; the joins, detect and keyset, the heaviest releases,
# cover the top five ranks, where p90 (nearest rank) falls. The fixed
# skeleton keeps JIT and cache warmth at each rank the same from seed to
# seed. See README.md.
MIDDLE = ["partition", "clamped", "quantile", "hist", "ids", "keyset", "detect"]
SKELETON = "C M C J C M C M C J C M C M C M C J C M".split()
assert [SKELETON.count(x) for x in "CMJ"] == [10, len(MIDDLE), 3]
DETECT_DELTA = Fraction(1, 100000)
SESSION_DELTA = Fraction(1, 10000)
EPS_CHOICES = [Fraction(1, 10), Fraction(1, 5), Fraction(1, 4), Fraction(1, 2)]

# pipeline_heavy: the construction-heavy operators, by family
PIPELINE = ["q139_pagerank", "q141_bfs_distances", "q42_minhash_clusters",
            "q59_knn_ivf", "q204_pair_affinity", "q87_tfidf_terms"]


def fr(x):
    return f"{x.numerator}/{x.denominator}"


def release(rng, family):
    """Parameters of one release, and its charge."""
    pick = rng.choice
    if family == "count":
        p = f"table=lineitem min_qty={pick([10, 30])}"
    elif family == "clamped":
        agg = pick(["sum", "avg", "var", "stdev"])
        p = f"table={pick(['lineitem', 'bulky'])} agg={agg} col=l_quantity hi=50"
    elif family == "quantile":
        p = f"col=l_extendedprice q={pick([0.25, 0.5, 0.75])} lo=0 hi=110000"
    elif family == "hist":
        p = pick([f"kind=histogram width={pick([5, 10])}",
                  f"kind=distinct min_value={pick([0, 50])}"])
    elif family == "join":
        p = f"min_qty={pick([30, 35])} left_k=4 right_k=1"
    elif family == "ids":
        p = f"agg={pick(['count', 'sum'])} max_rows={pick([10, 50])} hi=200"
    elif family == "keyset":
        p = f"supp=1000 with_status={pick([0, 1])}"
    elif family == "detect":
        p = f"cols=l_returnflag,l_linestatus min_qty={pick([10, 30])}"
    else:
        raise ValueError(family)
    eps = pick(EPS_CHOICES)
    delta = DETECT_DELTA if family == "detect" else Fraction(0)
    return p, eps, delta


def dp_script(seed):
    """The one analyst session, which each repetition runs on a fresh
    Session: the view and its first use, then the skeleton with the middle
    ops in seeded order."""
    rng = random.Random(seed)
    view_qty = rng.choice([20, 25, 30])
    middle = list(MIDDLE)
    rng.shuffle(middle)
    fams = {"C": iter(["count"] * SKELETON.count("C")), "J": iter(["join"] * SKELETON.count("J")),
            "M": iter(middle)}
    body = [next(fams[slot]) for slot in SKELETON]
    lines = [f"view min_qty={view_qty}"]
    spent_eps, spent_delta = Fraction(0), Fraction(0)
    for fam in ["first_use"] + body:
        if fam == "partition":
            eps = Fraction(1, 4)
            lines.append(f"partition budget=approx:{fr(eps)}:0")
            spent_eps += eps
            continue
        if fam == "first_use":
            p, eps, delta = f"table=bulky min_qty={rng.choice([10, 30])}", rng.choice(EPS_CHOICES), 0
            fam = "count"
        else:
            p, eps, delta = release(rng, fam)
        lines.append(f"release {fam} budget=approx:{fr(eps)}:{fr(delta)} {p}")
        spent_eps += eps
        # a noise-addition release charges delta = 0; partition selection
        # charges the delta it was given
        spent_delta += delta
    total_eps = spent_eps + Fraction(1, 2)
    lines = ([f"# perfbench dp script v1 seed={seed}",
              f"session s0 budget=approx:{fr(total_eps)}:{fr(SESSION_DELTA)}"] + lines +
             [f"end remaining=approx:{fr(total_eps - spent_eps)}:{fr(SESSION_DELTA - spent_delta)}"])
    return "\n".join(lines) + "\n"


def pipeline_order(seed):
    order = list(PIPELINE)
    random.Random(seed).shuffle(order)
    return order


if __name__ == "__main__":
    kind, seed = sys.argv[1], int(sys.argv[2])
    if kind == "dp":
        sys.stdout.write(dp_script(seed))
    else:
        print(",".join(pipeline_order(seed)))
