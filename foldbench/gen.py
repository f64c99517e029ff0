"""Seeded Vulcan-envelope generator for the consumer-loop benchmark.

One seed gives one byte-identical log. The log is line-delimited JSON in the
`graft-replay` format: one envelope per line (`key`, `value`, `metadata`,
FIXTURES.md sections 1-2), line number = offset. A plan next to it says how
the log splits into the seed fold and the per-trigger chunks, and which reads
each read round makes.

Why each workload exists:

- trickle: small refresh-only triggers with Zipf-skewed keys (some
  multi-team, some with short- or long-ARN AWS annotations). It shows the
  fold's fixed per-trigger action chain: one epoch, little per-row work.
- backfill: a near-empty store (the seed is a few hundred events, enough to
  commit a first version), then triggers of thousands of events. The first
  creates about half of the inventory; every trigger is closed by a
  decommission wave: a contiguous run of a few hundred tombstones of one
  team's assets (all its created ones, when it has fewer than `wave`), led by
  the tombstone of one of their AWS accounts. It shows a two-epoch trigger
  (the refreshes, then the tombstone run) with a large expire cascade through
  multi-owner assets and AWS-account parents, and row-heavy decode, merge
  shuffles and many-bucket store writes.

Both read the committed graph back: point lookups through `Inventory.lookup`,
`Inventory.changesSince` polls and filtered `graft-store` scans, the store's
read path, which shares `readPartialLatest` with the fold.
"""

import json
import random

BASE_EPOCH = 1704067200  # the fold's default processing-time base (2024-01-01Z)
AWS_KEY = "discovery/aws/account"
VERSION = "0.1.2"
ROLFP = "R:0/O:1/L:0/F:1/P:0+S:1"

# Sizes per workload. They are small because a whole run (JVM start, seed fold,
# measuring, check) has to take about a minute on a 4-core box, where a
# 50-event trigger folds in about 10 s. `seed` is the number of (asset, owner
# team) creations folded while setting up, None for all of them. `chunks` and
# READ_ROUNDS are upper bounds: the driver folds and reads until its
# measuring time is up, and the check replays only what it did.
WORKLOADS = {
    "trickle": dict(assets=1000, teams=40, accounts=50, seed=None, chunk=50, chunks=20,
                    wave=0),
    "backfill": dict(assets=3000, teams=40, accounts=30, seed=250, chunk=2000, chunks=3,
                     wave=300),
}
READ_ROUNDS = 20

# The kinds of point lookup: (endpoint, which id).
LOOKUPS = [("owners", "hot"), ("parents", "cold"), ("children", "account"),
           ("owners", "absent")]
SCAN_TYPE = "AWSAccount"
# A read round makes each kind of lookup ROUND_LOOKUPS times (on different
# ids), POLLS `changesSince` polls and SCANS store scans, so no figure rests on
# one sample. The read phase opens with an unmeasured warm-up, one lookup of
# each endpoint, one poll and one scan, because the JVM's first call of a read
# path runs up to twice as slow and would set the tail.
ROUND_LOOKUPS, POLLS, SCANS = 2, 2, 4


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


class Universe:
    """The asset population one seed draws: teams, AWS accounts and assets
    with their fixed owner teams and optional AWS-account parent."""

    def __init__(self, rng, n_assets, n_teams, n_accounts):
        self.teams = ["team%02d" % t for t in range(n_teams)]
        self.accounts = ["%012d" % rng.randrange(10 ** 11, 10 ** 12)
                         for _ in range(n_accounts)]
        team_w = [1.0 / (i + 1) ** 0.8 for i in range(n_teams)]
        self.assets = []
        for i in range(n_assets):
            if rng.random() < 0.8:
                tpe, ident = "Hostname", "host%05d.corp.example.com" % i
            else:
                tpe, ident = "DockerImage", "svc%05d:v%d" % (i, rng.randrange(1, 9))
            owners = [rng.choices(self.teams, weights=team_w)[0]]
            r = rng.random()
            extra = 2 if r < 0.03 else 1 if r < 0.18 else 0
            while len(owners) < 1 + extra:
                t = rng.choice(self.teams)
                if t not in owners:
                    owners.append(t)
            account = rng.choice(self.accounts) if rng.random() < 0.35 else None
            uid = "%032x" % rng.getrandbits(128)
            self.assets.append(dict(type=tpe, ident=ident, owners=owners,
                                    account=account, uid=uid))
        # Zipf(1.0) popularity over a seeded permutation of the assets
        order = list(range(n_assets))
        rng.shuffle(order)
        self.by_rank = order
        cum, acc = [], 0.0
        for r in range(n_assets):
            acc += 1.0 / (r + 1)
            cum.append(acc)
        self.cum = cum

    def zipf_asset(self, rng):
        return self.by_rank[rng.choices(range(len(self.by_rank)), cum_weights=self.cum)[0]]


def refresh_line(a, team, rng):
    ann = [{"Key": "discovery/source", "Value": "scanner"}]
    if a["account"] is not None:
        acct = a["account"]
        # short and long ARN forms both normalize to the same parent
        val = acct if rng.random() < 0.6 else "arn:aws:iam::%s:root" % acct
        ann.append({"Key": AWS_KEY, "Value": val})
    payload = {
        "Id": a["uid"],
        "Team": {"Id": team, "Name": team + " name", "Description": "", "Tag": ""},
        "Alias": "", "Rolfp": ROLFP, "Scannable": True,
        "AssetType": a["type"], "Identifier": a["ident"], "Annotations": ann,
    }
    return _dumps({"key": "%s/%s" % (team, a["uid"]), "value": _dumps(payload),
                   "metadata": _meta(a["type"], a["ident"])})


def tomb_line(tpe, ident, team, uid):
    return _dumps({"key": "%s/%s" % (team, uid), "value": None,
                   "metadata": _meta(tpe, ident)})


def _meta(tpe, ident):
    return [{"key": "version", "value": VERSION}, {"key": "type", "value": tpe},
            {"key": "identifier", "value": ident}]


def account_ident(acct):
    return "arn:aws:iam::%s:root" % acct


def _refresh(u, rng, idx=None):
    a = u.assets[u.zipf_asset(rng) if idx is None else idx]
    return refresh_line(a, rng.choice(a["owners"]), rng)


def _wave(u, rng, created, size):
    """A decommission wave: `size` consecutive tombstones of one team's
    created assets, led by the tombstone of one of their AWS accounts (which
    expires every edge under that account)."""
    by_team = {}
    for i, t in created:
        by_team.setdefault(t, set()).add(i)
    big = sorted(t for t, ids in by_team.items() if len(ids) >= size)
    team = rng.choice(big) if big else max(sorted(by_team), key=lambda t: len(by_team[t]))
    victims = rng.sample(sorted(by_team[team]), min(size, len(by_team[team])))
    wave = [tomb_line(u.assets[i]["type"], u.assets[i]["ident"], team, u.assets[i]["uid"])
            for i in victims]
    accounts = [u.assets[i]["account"] for i in victims if u.assets[i]["account"]]
    if accounts:
        wave.insert(0, tomb_line("AWSAccount", account_ident(accounts[0]), team,
                                 "acct-" + accounts[0]))
    return wave


def _wave_chunk(u, rng, created, size, wave):
    """Uniform refreshes closed by one wave, `size` events."""
    w = _wave(u, rng, created, wave)
    return [_refresh(u, rng, rng.choice(created)[0]) for _ in range(size - len(w))] + w


def _lookups(u, rng, times):
    """Each kind of lookup `times` times, on seeded ids."""
    out = []
    for endpoint, which in LOOKUPS * times:
        if which == "hot":
            a = u.assets[u.by_rank[rng.randrange(0, 5)]]
            aid = "%s/%s" % (a["type"], a["ident"])
        elif which == "cold":
            a = u.assets[u.by_rank[rng.randrange(len(u.by_rank) // 2, len(u.by_rank))]]
            aid = "%s/%s" % (a["type"], a["ident"])
        elif which == "account":
            aid = "AWSAccount/" + account_ident(rng.choice(u.accounts))
        else:
            aid = "Hostname/absent%05d.corp.example.com" % rng.randrange(10 ** 5)
        out.append({"endpoint": endpoint, "id": aid})
    return out


def generate(workload, seed):
    """(log lines, plan) for one workload and seed. The log is the seed,
    folded as one unmeasured trigger while the benchmark sets up, then the
    measured chunks, one trigger each. Every asset is created once per owner
    team: in the seed, or else at the head of the first chunks."""
    cfg = WORKLOADS[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    u = Universe(rng, cfg["assets"], cfg["teams"], cfg["accounts"])
    creates = [(i, t) for i, a in enumerate(u.assets) for t in a["owners"]]
    rng.shuffle(creates)
    n_seed = len(creates) if cfg["seed"] is None else cfg["seed"]
    seed_lines = [refresh_line(u.assets[i], t, rng) for i, t in creates[:n_seed]]
    if cfg["wave"]:
        chunks, done = [], n_seed
        for _ in range(cfg["chunks"]):
            # creations first, leaving room for the wave and as many refreshes
            head = creates[done:done + cfg["chunk"] - 2 * cfg["wave"]]
            done += len(head)
            chunks.append([refresh_line(u.assets[i], t, rng) for i, t in head] +
                          _wave_chunk(u, rng, creates[:done], cfg["chunk"] - len(head),
                                      cfg["wave"]))
    else:
        chunks = [[_refresh(u, rng) for _ in range(cfg["chunk"])] for _ in range(cfg["chunks"])]
    plan = {
        "workload": workload, "seed": seed, "base_epoch": BASE_EPOCH,
        "seed_events": len(seed_lines), "chunks": [len(c) for c in chunks],
        "reads": [_lookups(u, rng, ROUND_LOOKUPS) for _ in range(READ_ROUNDS)],
        "polls": POLLS, "scans": SCANS, "warmup": _lookups(u, rng, 1)[:3], "scan_type": SCAN_TYPE,
    }
    return seed_lines + [l for c in chunks for l in c], plan


def write(workload, seed, log_path, plan_path):
    lines, plan = generate(workload, seed)
    with open(log_path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f, separators=(",", ":"))
    return lines, plan
