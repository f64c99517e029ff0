"""Sequential interpreter of the reference's upsert / expire semantics.

One event at a time over plain dicts, the shape of the reference handler
(cmd/graph-vulcan-assets/main.go:116-364) and of DifferentialReplaySpec's
oracle. The event at log offset `o` is stamped `base + o` seconds, the fold's
documented processing-time rule (Pipeline.fold, `baseEpochSecs + offset`).

Rows use epoch seconds for timestamps and None for NULL:
  assets    (id, type, identifier, first_seen, last_seen, expiration)
  teams     (identifier, name)
  owns      (team_id, asset_id, start_time, end_time)
  parent_of (parent_id, child_id, first_seen, last_seen, expiration)
"""

import json
import re

UNEXPIRED = 253400659199  # 9999-12-12 23:59:59 UTC, the store's "not expired"
AWS_KEY = "discovery/aws/account"
TABLES = ("assets", "teams", "owns", "parent_of")

_SHORT = re.compile(r"^[0-9]{12}$")
_LONG = re.compile(r"^arn:aws:iam::[0-9]{12}:root$")
_MAJOR = re.compile(r"^v?(\d+)\.")


def normalize_account(v):
    if v is None:
        return None
    if _LONG.match(v):
        return v
    if _SHORT.match(v):
        return "arn:aws:iam::%s:root" % v
    return None


def decode(line):
    """Envelope line -> event dict, or None when strict mode would halt on it
    (Decode.decode's `valid`, plus an un-normalizable AWS annotation)."""
    try:
        env = json.loads(line)
    except ValueError:
        return None
    key, value = env.get("key"), env.get("value")
    meta = {}
    for m in env.get("metadata") or []:
        meta.setdefault(m.get("key"), m.get("value"))
    version, tpe, ident = meta.get("version"), meta.get("type"), meta.get("identifier")
    if key is None or version is None or tpe is None or ident is None:
        return None
    m = _MAJOR.match(version)
    if not m or int(m.group(1)) != 0 or len(version.split(".")) < 3:
        return None
    parts = key.split("/")
    if len(parts) != 2:
        return None
    if value is None:
        return {"tomb": True, "type": tpe, "ident": ident, "team": parts[0]}
    try:
        p = json.loads(value)
    except ValueError:
        return None
    team = p.get("Team") or {}
    arns = []
    for a in p.get("Annotations") or []:
        if a.get("Key") == AWS_KEY:
            arn = normalize_account(a.get("Value"))
            if arn is None:
                return None
            arns.append(arn)
    return {"tomb": False, "type": p.get("AssetType"), "ident": p.get("Identifier"),
            "team": team.get("Id"), "team_name": team.get("Name"), "arns": arns}


class Graph:
    """The inventory after some prefix of the log."""

    def __init__(self, base_epoch):
        self.base = base_epoch
        self.assets = {}   # (type, ident) -> [first, last, exp]
        self.teams = {}    # identifier -> name
        self.owns = {}     # (team, asset_id) -> [start, end]
        self.parents = {}  # (parent_id, child_id) -> [first, last, exp]
        self.owners_of = {}  # asset_id -> set(team)
        self.edges_of = {}   # node id -> set((parent_id, child_id))
        self.offset = 0
        self._before = None  # table -> {key: row before this step}

    # -- diff tracking -------------------------------------------------------
    def begin_step(self):
        self._before = {t: {} for t in TABLES}

    def _touch(self, table, key):
        if self._before is not None and key not in self._before[table]:
            self._before[table][key] = self.row(table, key)

    def end_step(self):
        """Row changes since begin_step: {table: (removed rows, added rows)}."""
        out = {}
        for t, olds in self._before.items():
            removed, added = [], []
            for key, old in olds.items():
                new = self.row(t, key)
                if old != new:
                    if old is not None:
                        removed.append(old)
                    if new is not None:
                        added.append(new)
            out[t] = (removed, added)
        self._before = None
        return out

    # -- rows ----------------------------------------------------------------
    def row(self, table, key):
        if table == "assets":
            v = self.assets.get(key)
            return None if v is None else ("%s/%s" % key, key[0], key[1], *v)
        if table == "teams":
            v = self.teams.get(key)
            return None if v is None else (key, v)
        if table == "owns":
            v = self.owns.get(key)
            return None if v is None else (key[0], key[1], *v)
        v = self.parents.get(key)
        return None if v is None else (key[0], key[1], *v)

    def rows(self, table):
        src = {"assets": self.assets, "teams": self.teams, "owns": self.owns,
               "parent_of": self.parents}[table]
        return [self.row(table, k) for k in src]

    # -- events --------------------------------------------------------------
    def apply_line(self, line):
        """Apply the next log line; False (nothing applied) when strict mode
        would halt on it."""
        ev = decode(line)
        if ev is None:
            return False
        now = self.base + self.offset
        self.offset += 1
        if ev["tomb"]:
            self._expire(ev, now)
        else:
            self._refresh(ev, now)
        return True

    def _upsert_asset(self, key, now):
        self._touch("assets", key)
        old = self.assets.get(key)
        self.assets[key] = [old[0] if old else now, now, UNEXPIRED]

    def _refresh(self, ev, now):
        key = (ev["type"], ev["ident"])
        aid = "%s/%s" % key
        self._upsert_asset(key, now)
        team = ev["team"]
        if team is not None:
            self._touch("teams", team)
            self.teams[team] = ev["team_name"]
            ok = (team, aid)
            self._touch("owns", ok)
            old = self.owns.get(ok)
            self.owns[ok] = [old[0] if old else now, None]
            self.owners_of.setdefault(aid, set()).add(team)
        for arn in ev["arns"]:
            self._upsert_asset(("AWSAccount", arn), now)
            pk = ("AWSAccount/" + arn, aid)
            self._touch("parent_of", pk)
            old = self.parents.get(pk)
            self.parents[pk] = [old[0] if old else now, now, UNEXPIRED]
            self.edges_of.setdefault(pk[0], set()).add(pk)
            self.edges_of.setdefault(aid, set()).add(pk)

    def _expire(self, ev, now):
        key = (ev["type"], ev["ident"])
        team = ev["team"]
        # unknown asset or team: silent no-op (main.go:276-292)
        if key not in self.assets or team not in self.teams:
            return
        aid = "%s/%s" % key
        ok = (team, aid)
        if ok in self.owns:
            self._touch("owns", ok)
            self.owns[ok][1] = now
        other_active = any(t != team and self.owns[(t, aid)][1] is None
                           for t in self.owners_of.get(aid, ()))
        if other_active:
            return
        self._touch("assets", key)
        a = self.assets[key]
        self.assets[key] = [a[0], now, now]
        for pk in self.edges_of.get(aid, ()):
            e = self.parents[pk]
            if e[2] > now:
                self._touch("parent_of", pk)
                self.parents[pk] = [e[0], now, now]

    # -- reads ---------------------------------------------------------------
    def owners(self, aid):
        return sorted(self.row("owns", (t, aid)) for t in self.owners_of.get(aid, ()))

    def parents_of(self, aid):
        return sorted(self.row("parent_of", pk)
                      for pk in self.edges_of.get(aid, ()) if pk[1] == aid)

    def children_of(self, aid):
        return sorted(self.row("parent_of", pk)
                      for pk in self.edges_of.get(aid, ()) if pk[0] == aid)

    def lookup(self, endpoint, aid):
        return {"owners": self.owners, "parents": self.parents_of,
                "children": self.children_of}[endpoint](aid)

    def scan(self, tpe):
        return sorted(r for r in self.rows("assets") if r[1] == tpe)
