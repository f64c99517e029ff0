"""The benchmark's own tests.

    python3 -m unittest discover -s foldbench/tests -v

The last test (EndToEndTest) runs the real command once: it builds on first
use and takes about a minute.
"""

import io
import json
import os
import shutil
import subprocess
import sys
import unittest
from contextlib import redirect_stderr, redirect_stdout
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import interp  # noqa: E402
import run  # noqa: E402

SCENARIO = os.path.join(ROOT, "src", "test", "resources", "fixtures", "scenario.json")
BASE = gen.BASE_EPOCH


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_a_byte_identical_log(self):
        tmp = os.path.join(BENCH, ".work", "test-gen")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            for w in gen.WORKLOADS:
                blobs = []
                for i in range(2):
                    log, plan = os.path.join(tmp, "log%d" % i), os.path.join(tmp, "plan%d" % i)
                    gen.write(w, 7, log, plan)
                    blobs.append((read_bytes(log), read_bytes(plan)))
                self.assertEqual(blobs[0], blobs[1], w)
                other, _ = gen.generate(w, 8)
                self.assertNotEqual(blobs[0][0], ("\n".join(other) + "\n").encode(), w)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_every_event_decodes_and_the_shapes_hold(self):
        for w in gen.WORKLOADS:
            lines, plan = gen.generate(w, 3)
            self.assertEqual(len(lines), plan["seed_events"] + sum(plan["chunks"]))
            events = [interp.decode(l) for l in lines]
            self.assertTrue(all(e is not None for e in events), w)
            tombs = [e["tomb"] for e in events]
            arns = [a for e in events if not e["tomb"] for a in e["arns"]]
            self.assertTrue(arns, w)
            raw = [json.loads(json.loads(l)["value"]) for l in lines[:200]
                   if json.loads(l)["value"] is not None]
            forms = {a["Value"].startswith("arn:") for p in raw for a in p["Annotations"]
                     if a["Key"] == gen.AWS_KEY}
            self.assertEqual(forms, {True, False}, "short and long ARN forms")
            if w == "trickle":
                self.assertFalse(any(tombs))
            else:
                # one contiguous wave per trigger of one team's tombstones, led
                # by an AWS account: `wave` of them, or all of the largest
                # team's created assets when it has fewer (over 200 here)
                at = plan["seed_events"]
                for n in plan["chunks"]:
                    t = tombs[at:at + n]
                    first, last = t.index(True), len(t) - 1 - t[::-1].index(True)
                    self.assertTrue(all(t[first:last + 1]))
                    self.assertLessEqual(last - first + 1, gen.WORKLOADS[w]["wave"] + 1)
                    self.assertGreater(last - first, 200)
                    self.assertEqual(len({e["team"] for e in events[at + first:at + last + 1]}), 1)
                    self.assertEqual(events[at + first]["type"], "AWSAccount")
                    at += n
        keys = {}
        for l in gen.generate("trickle", 3)[0]:
            e = interp.decode(l)
            keys.setdefault((e["type"], e["ident"]), set()).add(e["team"])
        self.assertTrue(any(len(t) > 1 for t in keys.values()), "multi-team assets")


def scenario_lines():
    with open(SCENARIO) as f:
        envs = sorted(json.load(f), key=lambda e: e["offset"])
    return [json.dumps({"key": e["key"], "value": e["value"], "metadata": e["metadata"]})
            for e in envs]


class InterpreterTest(unittest.TestCase):
    """The interpreter against the reference scenario's expected end state
    (main_test.go's world state, as GoldenStateSpec states it)."""

    @classmethod
    def setUpClass(cls):
        cls.g = interp.Graph(BASE)
        for line in scenario_lines():
            assert cls.g.apply_line(line)

    def test_teams(self):
        self.assertEqual(dict(self.g.teams), {t: t + " name" for t in
                                               ("alpha", "beta", "gamma", "delta")})

    def test_assets_and_their_expiry(self):
        arn = ["arn:aws:iam::%s:root" % (str(i) * 12) for i in range(3)]
        dead = {r[0]: r[5] != interp.UNEXPIRED for r in self.g.rows("assets")}
        want = {"Hostname/web%d.example.org" % i: i == 4 for i in range(7)}
        want.update({"AWSAccount/" + a: i == 1 for i, a in enumerate(arn)})
        self.assertEqual(dead, want)
        exp = {r[0]: r[5] for r in self.g.rows("assets")}
        self.assertEqual(exp["AWSAccount/" + arn[1]], BASE + 13)
        self.assertEqual(exp["Hostname/web4.example.org"], BASE + 14)
        web5 = [r for r in self.g.rows("assets") if r[0] == "Hostname/web5.example.org"][0]
        self.assertEqual((web5[3], web5[4]), (BASE + 15, BASE + 17))

    def test_owns_edges(self):
        h = "Hostname/web%d.example.org"
        aws = "AWSAccount/arn:aws:iam::%s:root"
        ends = {(r[0], r[1]): r[3] for r in self.g.rows("owns")}
        self.assertEqual(set(ends), {
            ("alpha", h % 0), ("beta", h % 0), ("alpha", h % 1), ("alpha", h % 2),
            ("alpha", h % 3), ("beta", h % 3), ("beta", h % 4),
            ("alpha", aws % ("0" * 12)), ("alpha", aws % ("1" * 12)),
            ("beta", aws % ("1" * 12)), ("beta", aws % ("2" * 12)),
            ("gamma", h % 5), ("delta", h % 6)})
        self.assertEqual(ends[("beta", h % 0)], BASE + 11)
        self.assertEqual(ends[("alpha", aws % ("1" * 12))], BASE + 12)
        self.assertEqual(ends[("beta", aws % ("1" * 12))], BASE + 13)
        self.assertEqual(ends[("beta", h % 4)], BASE + 14)
        for k in (("alpha", h % 0), ("alpha", h % 3), ("beta", h % 3), ("gamma", h % 5)):
            self.assertIsNone(ends[k])
        starts = {(r[0], r[1]): r[2] for r in self.g.rows("owns")}
        self.assertEqual(starts[("gamma", h % 5)], BASE + 15)

    def test_parent_edges(self):
        h = "Hostname/web%d.example.org"
        aws = "AWSAccount/arn:aws:iam::%s:root"
        exp = {(r[0], r[1]): r[4] for r in self.g.rows("parent_of")}
        self.assertEqual({k: v != interp.UNEXPIRED for k, v in exp.items()}, {
            (aws % ("0" * 12), h % 0): False, (aws % ("0" * 12), h % 1): False,
            (aws % ("0" * 12), h % 2): False, (aws % ("1" * 12), h % 3): True,
            (aws % ("2" * 12), h % 4): True})
        self.assertEqual(exp[(aws % ("1" * 12), h % 3)], BASE + 13)
        self.assertEqual(exp[(aws % ("2" * 12), h % 4)], BASE + 14)

    def test_step_diff_reports_old_and_new_rows(self):
        g = interp.Graph(BASE)
        lines = scenario_lines()
        for line in lines[:14]:
            g.apply_line(line)
        g.begin_step()
        g.apply_line(lines[14])  # beta tombstones its sole-owned web4
        removed, added = g.end_step()["assets"]
        self.assertEqual([r[0] for r in removed], ["Hostname/web4.example.org"])
        self.assertEqual(added[0][5], BASE + 14)


def fake_result(workload, seed):
    """What a correct driver would answer, taken from the interpreter."""
    lines, plan = gen.generate(workload, seed)
    steps = 2
    g = interp.Graph(plan["base_epoch"])
    pos, triggers, reads = plan["seed_events"], [], []
    for l in lines[:pos]:
        g.apply_line(l)
    for k in range(steps):
        g.begin_step()
        for l in lines[pos:pos + plan["chunks"][k]]:
            g.apply_line(l)
        pos += plan["chunks"][k]
        diff = g.end_step()
        triggers.append({"step": k, "events": plan["chunks"][k], "secs": 1.0 + k, "ok": True})
        for r in plan["reads"][k]:
            reads.append({"kind": "lookup", "step": k, "endpoint": r["endpoint"], "id": r["id"],
                          "secs": 0.5, "ok": True,
                          "rows": [list(x) for x in g.lookup(r["endpoint"], r["id"])]})
        reads.append({"kind": "cdc", "step": k, "secs": 2.0, "ok": True, "rows": {
            t: [list(x) + ["removed"] for x in rm] + [list(x) + ["added"] for x in ad]
            for t, (rm, ad) in diff.items()}})
        reads.append({"kind": "scan", "step": k, "secs": 0.7, "ok": True,
                      "rows": [list(x) for x in g.scan(plan["scan_type"])]})
    res = {"session_s": 9.0, "seed_s": 10.0, "gen_s": 0.2, "triggers": triggers,
           "reads": reads, "decodes": [], "failures": [], "unexpired_s": interp.UNEXPIRED,
           "final": {"version": steps, "tables": {t: [list(r) for r in g.rows(t)]
                                                   for t in interp.TABLES}}}
    return lines, plan, res


class CheckTest(unittest.TestCase):

    def test_a_correct_run_passes(self):
        for w in gen.WORKLOADS:
            v = check.check(*fake_result(w, 5))
            self.assertEqual(v["mismatches"], 0, v["problems"])

    def test_planted_and_real_mismatches_are_counted(self):
        lines, plan, res = fake_result("trickle", 5)
        self.assertEqual(check.check(lines, plan, res, plant=True)["mismatches"], 1)
        res["final"]["tables"]["owns"].pop()
        res["reads"][0]["rows"] = [["team00", "nobody", 0, None]]
        self.assertEqual(check.check(lines, plan, res)["mismatches"], 2)

    def test_warm_up_reads_are_checked_but_not_timed(self):
        lines, plan, res = fake_result("trickle", 5)
        warm = dict(res["reads"][0], warm=True, secs=9.0)
        res["reads"].insert(0, warm)
        self.assertEqual(check.check(lines, plan, res)["mismatches"], 0)
        self.assertLess(run.end_to_end(res)["lookup_p90_s"][0], 9.0)
        warm["rows"] = [["team00", "nobody", 0, None]]
        self.assertEqual(check.check(lines, plan, res)["mismatches"], 1)

    def test_the_command_exits_nonzero_on_a_mismatch(self):
        for plant, code in ((False, 0), (True, 1)):
            fake = fake_result("trickle", 5)
            out, err = io.StringIO(), io.StringIO()
            with mock.patch.object(run, "build"), \
                    mock.patch.object(run, "drive", return_value=fake), \
                    redirect_stdout(out), redirect_stderr(err):
                rc = run.main(["--workload", "trickle", "--seed", "5", "--seconds", "1"] +
                              (["--plant-mismatch"] if plant else []))
            self.assertEqual(rc, code)
            last = json.loads(out.getvalue().strip().splitlines()[-1])
            self.assertEqual(last["correct"], not plant)
            self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})


class EndToEndTest(unittest.TestCase):

    def test_planted_mismatch_fails_the_real_command(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            "trickle", "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--plant-mismatch"], cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        self.assertIn("final assets: 1 rows disagree", p.stderr)
        self.assertFalse(json.loads(p.stdout.strip().splitlines()[-1])["correct"])


if __name__ == "__main__":
    unittest.main()
