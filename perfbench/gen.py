#!/usr/bin/env python3
"""Seeded input generator for the Submit workloads.

Writes a transactions CSV in the reference schema
(user_id,mcc_code,currency_rk,transaction_amt,transaction_dttm) and, for the
tree workload, a tree-ensemble artifact whose feature list demands freq_/proc_
for every one of the 309 MCC codes in mcc_codes.txt (about 620 aggregates).

Input properties the generator guarantees:
  - MCC popularity is Zipf-like over the 309 codes, permuted per seed;
  - rows per user are heavy-tailed: the counts are the quantiles of a
    log-normal, dealt to the users in a seeded order, so every variant has
    the same row total and the same ~22% of users at 40 rows or fewer, who
    vanish at the 20+20 head/tail trim (the max-score fallback);
  - about 3% of rows carry the 6012 service code that the CLI drops;
  - about 0.5% of amounts are 1000x outliers (the Repair clamp's target);
  - every 8th user's rows carry no currency_rk (an empty field): the RNN
    branch's dropna loses them, so its max-score fallback runs too (the tree
    branch does not read the column);
  - timestamps are strictly increasing within a user, so the trim order is
    total and the output is deterministic.

The seed picks one of VARIANTS pinned input variants (seed % VARIANTS); the
same seed always gives byte-identical files.

    python3 perfbench/gen.py --seed 3 --workload submit_tree --out DIR

prints one JSON line with the input properties.
"""
import argparse
import bisect
import itertools
import json
import math
import os
import random
import time
from statistics import NormalDist

HERE = os.path.dirname(os.path.abspath(__file__))
VARIANTS = 8
TRIM_ROWS = 40  # 20 head + 20 tail rows are trimmed per user
DROP_CODE = "6012"

# users per generated CSV; the rnn scorer costs ~85M multiply-adds per user
USERS = {"submit_tree": 600, "submit_rnn": 32}


def mcc_codes():
    with open(os.path.join(HERE, "mcc_codes.txt")) as f:
        return [l.strip() for l in f if l.strip()]


def _pick(rng, items, cum):
    return items[bisect.bisect_left(cum, rng.random() * cum[-1])]


def transactions(rng, codes, users):
    """Rows (user_id, mcc, currency, amt, epoch second) grouped by user in
    random user order, each user's rows in time order."""
    order = [c for c in codes if c != DROP_CODE]  # 6012 comes at a fixed 3%
    rng.shuffle(order)
    zipf = list(itertools.accumulate(1.0 / (r + 1) ** 1.1
                                     for r in range(len(order))))
    scale = {c: rng.uniform(3.0, 8.0) for c in codes}
    ids = rng.sample(range(1, 10_000_000), users)
    counts = [min(1500, max(3, int(math.exp(
        4.4 + 0.9 * NormalDist().inv_cdf((i + 0.5) / users)))))
        for i in range(users)]
    rng.shuffle(counts)
    epoch0 = 1609459200  # 2021-01-01 00:00:00 UTC
    rows = []
    for k, (uid, n) in enumerate(zip(ids, counts)):
        no_currency = k % 8 == 7
        favs = [_pick(rng, order, zipf) for _ in range(rng.randint(2, 6))]
        t = epoch0 + rng.randrange(0, 300 * 86400)
        for _ in range(n):
            u = rng.random()
            if u < 0.03:
                code = DROP_CODE
            elif u < 0.70:
                code = favs[rng.randrange(len(favs))]
            else:
                code = _pick(rng, order, zipf)
            amt = math.exp(rng.gauss(scale[code], 1.0))
            if rng.random() < 0.005:
                amt *= 1000.0
            if rng.random() < 0.8:
                amt = -amt
            cur = 48 if rng.random() < 0.95 else rng.choice((50, 60))
            if no_currency:
                cur = ""
            t += 1 + int(rng.expovariate(1.0 / 80000.0))
            rows.append((uid, code, cur, round(amt, 2), t))
    return ids, rows


def fmt_ts(t):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t))


def tree_model(rng, codes, n_trees=60):
    """Additive tree ensemble over freq_/proc_ of every code + td stats.
    Thresholds sit at half-cents / non-round values so no aggregate lands
    exactly on a split."""
    feats = ([f"freq_{c}" for c in codes] + [f"proc_{c}" for c in codes]
             + ["td_mean", "td_std"])
    lines = ["# seeded benchmark tree artifact",
             "features " + " ".join(feats),
             f"bias {rng.uniform(-0.2, 0.2):.4f}"]

    def threshold(f):
        if f.startswith("freq_"):
            return f"{rng.randint(0, 12)}.5"
        if f.startswith("proc_"):
            return f"{-math.exp(rng.uniform(2.0, 9.0)):.2f}5"
        if f == "td_mean":
            return f"{rng.uniform(20000.0, 60000.0):.4f}"
        return f"{rng.uniform(5000.0, 30000.0):.4f}"

    for _ in range(n_trees):
        lines.append("tree")
        next_id = [1]

        def emit(nid, depth):
            if depth == 0 or rng.random() < 0.15:
                lines.append(f"l {nid} {rng.uniform(-0.3, 0.3):.4f}")
                return
            f = rng.choice(feats)
            li, ri = next_id[0], next_id[0] + 1
            next_id[0] += 2
            lines.append(f"n {nid} {f} {threshold(f)} {li} {ri}")
            emit(li, depth - 1)
            emit(ri, depth - 1)

        emit(0, 4)
    return lines


def generate(seed, workload, out_dir, users=None):
    """Write out_dir/tx.csv (and out_dir/model.txt for submit_tree); return
    the input properties. `users` overrides the workload's size (specs)."""
    variant = seed % VARIANTS
    rng = random.Random(f"{workload}:{variant}")
    codes = mcc_codes()
    ids, rows = transactions(rng, codes, users or USERS[workload])
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "tx.csv"), "w") as f:
        f.write("user_id,mcc_code,currency_rk,transaction_amt,"
                "transaction_dttm\n")
        for uid, code, cur, amt, t in rows:
            f.write(f"{uid},{code},{cur},{amt!r},{fmt_ts(t)}\n")
    if workload == "submit_tree":
        with open(os.path.join(out_dir, "model.txt"), "w") as f:
            f.write("\n".join(tree_model(rng, codes)) + "\n")
    per_user = {}
    for r in rows:
        per_user[r[0]] = per_user.get(r[0], 0) + 1
    return {
        "variant": variant,
        "rows": len(rows),
        "users": len(ids),
        "users_at_or_below_trim_share":
            round(sum(n <= TRIM_ROWS for n in per_user.values()) / len(ids), 4),
        "code_6012_share":
            round(sum(r[1] == DROP_CODE for r in rows) / len(rows), 4),
        "codes_seen": len({r[1] for r in rows}),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(USERS), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--users", type=int, help="override the workload size")
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.workload, a.out, a.users),
                     sort_keys=True))


if __name__ == "__main__":
    main()
