"""Independent oracle for the CDC file-stream benchmark.

Applies delivered CDC files one at a time, in path order per table, with the
reference handler's semantics, written here from its description rather
than from the program's code:

  route      fair/{table}/YYYY/MM/DD/{file}.parquet, LOAD* files skipped
  ledger     a file already applied is skipped when delivered again
  evolve     a new scalar staging column is added to the table, nullable
  dedup      one row per key: latest load_timestamp, then Op priority
             D > U > I > other, then the later row of the file
  merge      columns = table ∩ staging, minus DECIMAL columns whose type
             differs; matched D deletes, matched other updates the non-key
             columns, unmatched rows are inserted (an unmatched D too)

Only the keys the fixture's files touch are tracked; every other row must
equal its base row, which the benchmark checks on the Spark side.
"""

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import KEYS, TABLES

META = {"Op", "load_timestamp", "rn", "ingestion_seq", "__source_file"}
OP_PRIORITY = {"D": 3, "U": 2, "I": 1}
ROUTE = re.compile(r"^(?:.*/)?fair/([^/]+)/(\d{4})/(\d{2})/(\d{2})/([^/]+\.parquet)$")


def route(path):
    """The table a delivered file applies to, or None when it is skipped."""
    m = ROUTE.match(path)
    if m is None or m.group(5).startswith("LOAD"):
        return None
    return m.group(1)


def composite(table, cols):
    """One int64 per key (lineitem's line number is below 100)."""
    if table == "lineitem":
        return pc.add(pc.multiply(cols[0], 100), pc.cast(cols[1], pa.int64()))
    return cols[0]


def key_of(table, row):
    return tuple(row[k] for k in KEYS[table])


class TableState:
    def __init__(self, table, base_tbl, touched_keys_tbl):
        self.table = table
        self.schema = [(f.name, f.type) for f in base_tbl.schema]
        keys = KEYS[table]
        want = composite(table, [touched_keys_tbl.column(k) for k in keys])
        have = composite(table, [base_tbl.column(k) for k in keys])
        base_rows = base_tbl.filter(pc.is_in(have, value_set=want)).to_pylist()
        self.rows = {key_of(table, r): r for r in base_rows}
        self.base_keys = set(self.rows)
        self.touched = {key_of(table, r) for r in touched_keys_tbl.to_pylist()}
        self.last_file = {}

    def apply(self, path, tbl):
        table, keys = self.table, KEYS[self.table]
        names = {n for n, _ in self.schema}
        for f in tbl.schema:
            if f.name not in META and f.name not in names and not (
                    pa.types.is_nested(f.type) or pa.types.is_null(f.type)):
                self.schema.append((f.name, f.type))
                names.add(f.name)
        staged = {f.name: f.type for f in tbl.schema}
        merge_cols = [n for n, t in self.schema if n in staged
                      and not (pa.types.is_decimal(t) and staged[n] != t)]
        update_cols = [c for c in merge_cols if c not in keys and c not in META]
        insert_cols = [c for c in merge_cols if c not in META]
        best = {}
        for seq, r in enumerate(tbl.to_pylist()):
            rank = (r["load_timestamp"], OP_PRIORITY.get(r["Op"], 0), seq)
            k = key_of(table, r)
            self.last_file[k] = path
            if k not in best or rank > best[k][0]:
                best[k] = (rank, r)
        for k, (_, r) in best.items():
            cur = self.rows.get(k)
            if cur is not None:
                if r["Op"] == "D":
                    self.rows[k] = None
                else:
                    cur = dict(cur)
                    for c in update_cols:
                        cur[c] = r[c]
                    self.rows[k] = cur
            else:
                self.rows[k] = {c: (r[c] if c in insert_cols else None) for c, _ in self.schema}

    def expected(self, k):
        """The row the key should hold, or None when it should be absent."""
        r = self.rows.get(k)
        return None if r is None else {c: r.get(c) for c, _ in self.schema}


def oracle(base, fixture_dir, delivered):
    """Serial application of `delivered` (paths relative to the fixture, in
    delivery order). Returns {table: TableState} and the applied paths."""
    states = {t: TableState(t, base.tables[t],
                            pq.read_table(os.path.join(fixture_dir, "touched", t + ".parquet")))
              for t in TABLES}
    done, applied = set(), []
    for path in delivered:
        table = route(path)
        if table is None or path in done:
            continue
        done.add(path)
        applied.append(path)
        states[table].apply(path, pq.read_table(os.path.join(fixture_dir, path)))
    return states, applied


def compare(states, actual):
    """Diff the actual rows of every touched key against the oracle.

    `actual` maps table -> list of row dicts (the table's rows whose key
    some fixture file touches). Returns (diverged, unattributed): diverged
    maps each charged file to its diverged keys, and unattributed lists
    diverged keys that no applied file touched.
    """
    diverged, unattributed = {}, []
    for t, st in states.items():
        got = {}
        for r in actual[t]:
            k = key_of(t, r)
            if k in got:  # a duplicated key is a divergence on its own
                got[k] = "duplicate"
            else:
                got[k] = r
        for k in st.touched:
            exp = st.expected(k)
            act = got.get(k)
            if isinstance(act, dict):
                act = {c: act.get(c) for c, _ in st.schema}
                extra = set(got[k]) - {c for c, _ in st.schema}
                if extra:
                    act["__extra_columns"] = sorted(extra)
            if act != exp:
                f = st.last_file.get(k)
                if f is None:
                    unattributed.append((t, k))
                else:
                    diverged.setdefault(f, []).append((t, k))
    return diverged, unattributed
