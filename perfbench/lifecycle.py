"""The SQL half of the lifecycle_stream workload: its seeded program
and the plain model the results are checked against.

The table ``lc`` (k, cust, status, total, prio) starts as the seed's
orders. The program is numbered rounds of 15 timed statements, each
round running every statement type:

    insert -> current read -> update (scattered) -> update (clustered)
    -> changes(both updates) -> merge -> changes(merge)
    -> delete (scattered) -> current read -> delete (clustered)
    -> read AS OF (between the deletes) -> changes(merge, both deletes)
    -> restore (undoes the clustered delete) -> vacuum (folds the
    scattered delete into the files) -> optimize

A scattered statement hits keys spread over every file (each file
rewritten or masked), a clustered one a key range inside one file.
``{v:<id>}`` in a statement stands for the table's change version right
after statement ``<id>``; the harness resolves it. A run generates as
many rounds as its window can hold (``rounds_for``) and executes them in
order until the window closes.

The model follows the engine's documented versioning contract:
``VERSION AS OF`` travels along the deletion-vector history, RESTORE
rolls back deletes, ``table_changes(t, a, b)`` serves versions in
(a, b]. The program only asks questions whose answer that contract
and Delta's agree on: AS OF and RESTORE target a version after which
only deletes ran, and change ranges cover only insert/update/delete/
merge versions that no later rewrite has touched.
"""
import hashlib
import json
import math

import numpy as np
import pandas as pd

from datagen import PRIORITIES, _rng

ROUND_S = 30        # one round and its landed files on 4 cpus, cold: ~20-30 s
INSERT_ROWS = 100
MERGE_ROWS = 100    # half existing keys, half new
NEW_KEY_BASE = 10_000_000
COLS = ("k", "cust", "status", "total", "prio")


class Pred:
    """A predicate with an SQL spelling and a Python key selector."""

    def __init__(self, kind, a, b=None):
        self.kind, self.a, self.b = kind, int(a), None if b is None else int(b)

    def sql(self):
        if self.kind == "cust":
            return f"cust = {self.a}"
        if self.kind == "range":
            return f"k BETWEEN {self.a} AND {self.b}"
        if self.kind == "mod":
            return f"k % {self.a} = {self.b}"
        raise ValueError(self.kind)

    def keys(self, rows, extra):
        """The keys of ``rows`` this predicate selects. Base keys are
        0..NEW_KEY_BASE-1; ``extra`` holds every key added since."""
        if self.kind == "range":
            cand = range(self.a, self.b + 1)
        elif self.kind == "mod":
            cand = list(range(self.b, NEW_KEY_BASE, self.a)) + [
                k for k in extra if k % self.a == self.b]
        else:
            return [k for k, r in rows.items() if r[0] == self.a]
        return [k for k in cand if k in rows]


def _lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(float(v)) if isinstance(v, float) else str(int(v))


def _values(rows):
    return ", ".join("(" + ", ".join(_lit(x) for x in r) + ")" for r in rows)


class Model:
    """The table as a dict k -> (cust, status, total, prio), plus the
    change records of every versioned statement and the states that
    later statements travel back to."""

    def __init__(self, orders):
        self.rows = dict(zip(orders["o_orderkey"].tolist(), zip(
            orders["o_custkey"].tolist(), orders["o_orderstatus"].tolist(),
            orders["o_totalprice"].tolist(), orders["o_orderpriority"].tolist())))
        self.changes = {}   # stmt id -> [(k, cust, status, total, prio, change_type)]
        self.saved = {}     # stmt id -> copy of rows (AS OF / RESTORE targets)
        self.order = []     # ids applied so far
        self.extra = set()  # keys added by INSERT/MERGE

    def apply(self, st):
        """Apply a statement's effect; return its expected rows if it reads."""
        op = st["op"]
        kind = op[0]
        self.order.append(st["id"])
        ch = []
        if kind == "insert" or kind == "merge":
            for k, *v in op[1]:
                if k in self.rows:
                    ch.append((k, *self.rows[k], "update_preimage"))
                    ch.append((k, *v, "update_postimage"))
                else:
                    ch.append((k, *v, "insert"))
                    self.extra.add(k)
                self.rows[k] = tuple(v)
        elif kind == "update":
            pred, delta, status = op[1], op[2], op[3]
            for k in pred.keys(self.rows, self.extra):
                r = self.rows[k]
                new = (r[0], status, r[2] + delta, r[3])
                ch.append((k, *r, "update_preimage"))
                ch.append((k, *new, "update_postimage"))
                self.rows[k] = new
        elif kind == "delete":
            for k in op[1].keys(self.rows, self.extra):
                ch.append((k, *self.rows.pop(k), "delete"))
        elif kind == "restore":
            self.rows = dict(self.saved[op[1]])
        elif kind == "read":
            src = self.rows if op[1] is None else self.saved[op[1]]
            return sorted((k, *src[k]) for k in op[2].keys(src, self.extra))
        elif kind == "changes":
            lo, hi = op[1], op[2]
            out = []
            for sid in self.order:
                if lo < sid <= hi:
                    out += [(*c, sid) for c in self.changes.get(sid, [])]
            return out
        if ch or kind in ("insert", "update", "delete", "merge"):
            self.changes[st["id"]] = ch
        if st["id"] in st.get("save_ids", ()):
            self.saved[st["id"]] = dict(self.rows)
        return None


def rounds_for(seconds):
    """Rounds to generate for a window of ``seconds``: the window starts
    a round only while it is open, and always starts the first."""
    return max(1, math.ceil(seconds / ROUND_S))


def program(seed, orders, rounds):
    """The seed's statement list (dicts with id, phase, type, reads, sql,
    op). Runs the model while generating, so data-dependent choices
    (which live keys a MERGE hits) are made against the true state."""
    r = _rng(seed, "lifecycle")
    model = Model(orders)
    n = len(orders)
    n_cust = int(orders["o_custkey"].max()) + 1
    stmts = []
    next_key = [NEW_KEY_BASE]
    save_ids = set()

    def add(phase, typ, sql, op, reads=False):
        st = {"id": len(stmts) + 1, "phase": phase, "type": typ, "sql": sql,
              "op": op, "reads": reads, "save_ids": save_ids}
        stmts.append(st)
        model.apply(st)
        return st["id"]

    def new_rows(count):
        rows = []
        for _ in range(count):
            rows.append((next_key[0], int(r.integers(0, n_cust)),
                         str(r.choice(["F", "O", "P"])),
                         round(float(r.uniform(1000.0, 500000.0)), 2),
                         str(PRIORITIES[int(r.integers(0, 5))])))
            next_key[0] += 1
        return rows

    cols = ", ".join(COLS)
    for rnd in range(1, rounds + 1):
        ph = f"r{rnd}"
        rows = new_rows(INSERT_ROWS)
        add(ph, "insert", f"INSERT INTO lc VALUES {_values(rows)}", ("insert", rows))
        p = Pred("cust", r.integers(0, n_cust))
        add(ph, "snapshot_read", f"SELECT {cols} FROM lc WHERE {p.sql()}",
            ("read", None, p), reads=True)
        before_update = stmts[-1]["id"]
        lo = int(r.integers(0, n - n // 50))
        for up in (Pred("mod", 97, r.integers(0, 97)),
                   Pred("range", lo, lo + n // 100 - 1)):
            delta = float(r.integers(1, 400)) / 4.0
            upd = add(ph, "update", f"UPDATE lc SET total = total + {delta!r}, "
                      f"status = 'U' WHERE {up.sql()}", ("update", up, delta, "U"))
        add(ph, "changes_read", f"SELECT {cols}, change_type, commit_version FROM "
            f"table_changes('lc', {{v:{before_update}}}, {{v:{upd}}})",
            ("changes", before_update, upd), reads=True)
        before_merge = stmts[-1]["id"]
        live = np.fromiter(model.rows.keys(), dtype=np.int64)
        hit = r.choice(live, MERGE_ROWS // 2, replace=False)
        mrows = [(int(k), int(r.integers(0, n_cust)), "M",
                  round(float(r.uniform(1000.0, 500000.0)), 2),
                  str(PRIORITIES[int(r.integers(0, 5))])) for k in sorted(hit)]
        mrows += new_rows(MERGE_ROWS - len(mrows))
        view = f"merge_src_{len(stmts) + 1}"
        add(ph, "prep", f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT * FROM VALUES "
            f"{_values(mrows)} AS s({cols})", ("noop",))
        mrg = add(ph, "merge", f"MERGE INTO lc t USING {view} s ON t.k = s.k "
                  "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
                  ("merge", mrows))
        add(ph, "changes_read", f"SELECT {cols}, change_type, commit_version FROM "
            f"table_changes('lc', {{v:{before_merge}}}, {{v:{mrg}}})",
            ("changes", before_merge, mrg), reads=True)
        d1 = Pred("mod", 101, r.integers(0, 101))
        save_ids.add(len(stmts) + 1)
        del1 = add(ph, "delete", f"DELETE FROM lc WHERE {d1.sql()}", ("delete", d1))
        lo = int(r.integers(0, n - n // 300))
        p = Pred("range", lo, lo + n // 500 - 1)
        add(ph, "snapshot_read", f"SELECT {cols} FROM lc WHERE {p.sql()}",
            ("read", None, p), reads=True)
        lo = int(r.integers(0, n - n // 100))
        d2 = Pred("range", lo, lo + n // 200 - 1)
        del2 = add(ph, "delete", f"DELETE FROM lc WHERE {d2.sql()}", ("delete", d2))
        p = Pred("range", lo + n // 400, lo + n // 150)
        add(ph, "snapshot_read", f"SELECT {cols} FROM lc VERSION AS OF {{v:{del1}}} "
            f"WHERE {p.sql()}", ("read", del1, p), reads=True)
        add(ph, "changes_read", f"SELECT {cols}, change_type, commit_version FROM "
            f"table_changes('lc', {{v:{mrg}}}, {{v:{del2}}})",
            ("changes", mrg, del2), reads=True)
        add(ph, "restore", f"RESTORE TABLE lc TO VERSION AS OF {{v:{del1}}}",
            ("restore", del1))
        add(ph, "vacuum", "VACUUM lc RETAIN 1 VERSIONS", ("noop",))
        add(ph, "optimize", "OPTIMIZE lc", ("noop",))
    return stmts


def write_program(stmts, path):
    """One statement per line: id, phase, type, returns-rows flag, SQL."""
    with open(path, "w") as fh:
        for s in stmts:
            fh.write(f"{s['id']}\t{s['phase']}\t{s['type']}\t{int(s['reads'])}\t{s['sql']}\n")


def program_digest(stmts):
    h = hashlib.sha256()
    for s in stmts:
        h.update(f"{s['id']}|{s['phase']}|{s['type']}|{s['sql']}\n".encode())
    return h.hexdigest()[:16]


def _canon(rows):
    return sorted(tuple(x for x in row) for row in rows)


def check(job, result):
    """Replay the executed prefix on a fresh model; compare every read
    and the final live table. Returns {check name: [errors]}, and records
    the rows each DML statement changed in ``result["changed_rows"]``."""
    orders = pd.read_parquet(f"{job['data']}/orders.parquet")
    seed = int(job["seed"])
    stmts = {s["id"]: s for s in program(seed, orders, int(job["rounds"]))}
    model = Model(orders)
    reads = {}
    with open(f"{job['out']}/reads.jsonl") as fh:
        for line in fh:
            rec = json.loads(line)
            reads[rec["id"]] = rec["rows"]
    executed = [e["id"] for e in result["executed"]]
    version = {e["id"]: e["version"] for e in result["executed"]}
    verdicts = {}
    changed = result.setdefault("changed_rows", {})
    for sid in executed:
        st = stmts[sid]
        want = model.apply(st)
        if sid in model.changes:
            changed[sid] = sum(1 for c in model.changes[sid] if c[-1] != "update_preimage")
        if want is None:
            continue
        if st["op"][0] == "changes":
            want = [w[:-1] + (version[w[-1]],) for w in want]
        got = reads.get(sid)
        name = f"s{sid}"
        if got is None:
            verdicts[name] = ["no rows recorded"]
        elif _canon(got) != _canon(want):
            verdicts[name] = [f"got {len(got)} rows, want {len(want)}"]
        else:
            verdicts[name] = []
    final = pd.read_parquet(f"{job['out']}/final_table")
    got = sorted(zip(*(final[c].tolist() for c in COLS)))
    want = sorted((k, *v) for k, v in model.rows.items())
    verdicts["final_table"] = [] if got == want else [
        f"final table: got {len(got)} rows, want {len(want)}"]
    return verdicts
