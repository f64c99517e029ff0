"""Correctness check: the driver's answers against the sequential interpreter.

The interpreter replays the seed and then each folded chunk. After chunk k it
must agree with every read the driver made against the version chunk k
committed (lookups, changesSince polls, store scans), and after the last
folded chunk with the final committed store. `mismatches` counts the store rows (by natural key)
and the read answers that disagree.
"""

from collections import Counter

import interp

KEYS = {"assets": 3, "teams": 1, "owns": 2, "parent_of": 2}  # natural-key width


def _rows(rs):
    return [tuple(r) for r in rs]


def table_mismatches(table, expected, actual):
    """Keys whose row differs, is missing or is extra (duplicates count)."""
    k = KEYS[table]
    exp = {r[:k]: r for r in expected}
    act, bad = {}, 0
    for r in actual:
        if r[:k] in act:
            bad += 1
        act[r[:k]] = r
    return bad + sum(1 for key in exp.keys() | act.keys() if exp.get(key) != act.get(key))


def check(lines, plan, res, plant=False):
    g = interp.Graph(plan["base_epoch"])
    problems = []
    if res["unexpired_s"] != interp.UNEXPIRED:
        problems.append("store's unexpired sentinel is %s, interpreter's %s"
                        % (res["unexpired_s"], interp.UNEXPIRED))
    seed = plan["seed_events"]
    for line in lines[:seed]:
        if not g.apply_line(line):
            problems.append("seed line %d is not a valid event" % g.offset)
            break
    reads_at = {}
    for r in res["reads"]:
        reads_at.setdefault(r["step"], []).append(r)
    pos = seed
    mismatches = 0
    for t in res["triggers"]:
        if not t.get("ok"):
            break
        g.begin_step()
        for line in lines[pos:pos + t["events"]]:
            if not g.apply_line(line):
                problems.append("line %d is not a valid event" % g.offset)
        pos += t["events"]
        diff = g.end_step()
        for r in reads_at.get(t["step"], []):
            if not r.get("ok"):
                continue
            bad = _read_problem(g, r, diff, plan)
            if bad:
                mismatches += 1
                problems.append("step %d %s: %s" % (t["step"], r["kind"], bad))
    final = res.get("final")
    if final is None:
        problems.append("no committed version to compare")
        mismatches += 1
    else:
        for table in interp.TABLES:
            expected = g.rows(table)
            if plant and table == "assets" and expected:
                r = expected[0]
                expected[0] = r[:4] + (r[4] + 1,) + r[5:]
            n = table_mismatches(table, expected, _rows(final["tables"][table]))
            if n:
                problems.append("final %s: %d rows disagree" % (table, n))
            mismatches += n
    return {"mismatches": mismatches, "problems": problems}


def _read_problem(g, r, diff, plan):
    if r["kind"] == "lookup":
        want = g.lookup(r["endpoint"], r["id"])
        got = sorted(_rows(r["rows"]))
        return None if got == want else "%s(%s) = %s, expected %s" % (
            r["endpoint"], r["id"], got[:3], want[:3])
    if r["kind"] == "scan":
        want = g.scan(plan["scan_type"])
        got = sorted(_rows(r["rows"]))
        return None if got == want else "%d rows, expected %d" % (len(got), len(want))
    for table in interp.TABLES:
        removed, added = diff[table]
        want = Counter([x + ("removed",) for x in removed] + [x + ("added",) for x in added])
        got = Counter(_rows(r["rows"].get(table, [])))
        if got != want:
            return "%s diff has %d rows, expected %d" % (
                table, sum(got.values()), sum(want.values()))
    return None


def operations(res):
    """(attempted, failed) over triggers and reads."""
    ops = res["triggers"] + res["reads"]
    return len(ops), sum(1 for o in ops if not o.get("ok"))
