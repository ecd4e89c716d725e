"""Seeded generator of DMS-shaped CDC files for the CDC file-stream benchmark.

The files are built from the TPC-H-shaped base tables (orders, customer,
lineitem) and land under ``files/fair/{table}/YYYY/MM/DD/`` in the shape AWS
DMS writes: an ``Op`` column (I/U/D), a ``load_timestamp`` and the row image.
The same seed always gives byte-identical files (``fixture_digest`` checks
it); the output is cached by run.py under the seed and ``GEN_VERSION``.

Event kinds and why each is there (README.md repeats this list):
  small      files of 2-14 rows, BASELINE's typical CDC file: per-file fixed
             costs (ledger scan, job count, driver gaps, CoW bucket rewrite)
  mor        a 64-key file: above ~45 keys a file spreads over more than half
             of the 64 buckets and takes the MoR delta route; the table's next
             small file drains it
  dup        intra-file duplicate keys tied on load_timestamp, broken by Op
             priority and then row order: the dedup cascade and its window
  pair       a fresh key inserted by one file and deleted by the table's next
             file, as DMS emits it: cross-file ordering (and, batched into
             one micro-batch, the unmatched-delete insert)
  redeliver  a file delivered a second time: the ledger's exactly-once check
  load       a LOAD* full-load file: routed away by CdcPath
  offpattern a file whose key misses fair/{table}/YYYY/MM/DD/: routed away
  evolve     a file adding a DECIMAL column, and a later one changing its
             precision so the merge's decimal gate drops it
"""

import datetime
import decimal
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2

KEYS = {
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
TABLES = sorted(KEYS)
DAY = datetime.datetime(2026, 10, 17)
DAY_DIR = DAY.strftime("%Y/%m/%d")

# Stream workload: files landed per second by the writer thread, and the
# insert-then-delete pairs among them.
STREAM_RATE = 0.5
STREAM_PAIRS = 2

CREDIT = "c_credit"
CREDIT_TYPES = {"add_credit": pa.decimal128(10, 2), "credit_p12": pa.decimal128(12, 2)}


def _pick(rng, choices):
    return choices[rng.randrange(len(choices))]


def _mutate(table, row, rng):
    """A new row image for an existing key: non-key columns change."""
    r = dict(row)
    if table == "orders":
        r["o_orderstatus"] = _pick(rng, ["O", "F", "P"])
        r["o_totalprice"] = round(rng.uniform(900.0, 500000.0), 2)
        r["o_orderpriority"] = _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    elif table == "customer":
        r["c_acctbal"] = round(rng.uniform(-999.99, 9999.99), 2)
        r["c_mktsegment"] = _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    else:
        r["l_quantity"] = float(rng.randint(1, 50))
        r["l_extendedprice"] = round(rng.uniform(900.0, 100000.0), 2)
        r["l_discount"] = rng.randint(0, 10) / 100.0
        r["l_returnflag"] = _pick(rng, ["R", "A", "N"])
        r["l_linestatus"] = _pick(rng, ["O", "F"])
    return r


def unique_by_key(tbl, keys):
    """The first row of each key. A CDC target has a primary key, and the
    TPC-H-shaped lineitem repeats (l_orderkey, l_linenumber) pairs."""
    idx = pa.array(range(tbl.num_rows), pa.int64())
    first = (tbl.select(keys).append_column("__i", idx)
             .group_by(keys).aggregate([("__i", "min")]).column("__i_min"))
    if len(first) == tbl.num_rows:
        return tbl
    return tbl.take(first.take(pc.sort_indices(first)))


class Base:
    """The base tables, their key lists and the next fresh key per table."""

    def __init__(self, sf_dir):
        self.tables = {}
        for t in TABLES:
            tbl = pq.read_table(os.path.join(sf_dir, t + ".parquet")).replace_schema_metadata(None)
            self.tables[t] = unique_by_key(tbl, KEYS[t])
        self.schemas = {t: tbl.schema for t, tbl in self.tables.items()}
        self.rows = {t: tbl.num_rows for t, tbl in self.tables.items()}
        self.max_key = {t: max(self.tables[t].column(KEYS[t][0]).to_pylist()) for t in TABLES}

    def write(self, out_dir):
        """The key-unique base tables the benchmark loads its stores from."""
        os.makedirs(out_dir, exist_ok=True)
        for t, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(out_dir, t + ".parquet"), compression="snappy")

    def sample_rows(self, table, rng, k):
        if k <= 0:
            return []
        idx = rng.sample(range(self.rows[table]), k)
        return self.tables[table].take(idx).to_pylist()


class Gen:
    """Builds one fixture: files, manifest and the set of keys they touch."""

    def __init__(self, base, seed, out_dir):
        self.base = base
        self.rng = random.Random(seed)
        self.out = out_dir
        self.events = []
        self.fresh = {t: 0 for t in TABLES}
        self.seq = 0
        self.touched = {t: set() for t in TABLES}
        self.pending_delete = {t: None for t in TABLES}
        self.schema_variant = {t: "base" for t in TABLES}

    # ── rows ────────────────────────────────────────────────────────────
    def fresh_row(self, table):
        self.fresh[table] += 1
        k = self.base.max_key[table] + self.fresh[table]
        (template,) = self.base.sample_rows(table, self.rng, 1)
        r = _mutate(table, template, self.rng)
        r[KEYS[table][0]] = k
        if table == "lineitem":
            r["l_linenumber"] = 1
        return r

    def existing_rows(self, table, k):
        return [_mutate(table, r, self.rng) for r in self.base.sample_rows(table, self.rng, k)]

    def _schema(self, table, variant, with_op=True):
        fields = []
        if with_op:
            fields += [pa.field("Op", pa.string()), pa.field("load_timestamp", pa.timestamp("us"))]
        fields += list(self.base.schemas[table])
        if variant in CREDIT_TYPES:
            fields.append(pa.field(CREDIT, CREDIT_TYPES[variant]))
        return pa.schema(fields)

    # ── files ───────────────────────────────────────────────────────────
    def _name(self):
        self.seq += 1
        t = DAY + datetime.timedelta(seconds=7 * self.seq)
        return t.strftime("%Y%m%d-%H%M%S") + "%03d.parquet" % (self.seq % 1000)

    def _write(self, rel, schema, rows):
        path = os.path.join(self.out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path, compression="snappy")

    def cdc_file(self, table, n_rows, dup_frac=0.0, pair=False, variant=None, extra=None):
        """One CDC file of `table`: U/I/D events on `n_rows` distinct keys,
        plus tie-breaking duplicates, a pending pair delete and a new pair
        insert as asked."""
        rng = self.rng
        if variant is not None:
            self.schema_variant[table] = variant
        variant = self.schema_variant[table]
        ts0 = DAY + datetime.timedelta(seconds=7 * (self.seq + 1))
        # the counts of each op depend only on the file's size, so every
        # seed gives files of the same shape
        n_fresh = round(0.15 * n_rows)
        n_delete = round(0.18 * (n_rows - n_fresh))
        ops = ["D"] * n_delete + ["U"] * (n_rows - n_fresh - n_delete)
        rng.shuffle(ops)
        rows = [(r, op, ts0) for r, op in zip(self.existing_rows(table, len(ops)), ops)]
        rows += [(self.fresh_row(table), "I", ts0) for _ in range(n_fresh)]
        rng.shuffle(rows)
        # duplicates tied on load_timestamp: Op priority (D > U > I) decides
        # between ops, row order (ingestion_seq) between equal ops; some
        # duplicates carry an EARLIER load_timestamp later in the file
        live = [x for x in rows if x[1] != "D"]
        dups = []
        for r, op, ts in rng.sample(live, min(len(live), round(dup_frac * n_rows))):
            kind = rng.randrange(3)
            if kind == 0:
                dups.append((_mutate(table, r, rng), "U" if op == "U" else "I", ts))
            elif kind == 1:
                dups.append((_mutate(table, r, rng), "D" if op == "U" else op, ts))
            else:
                dups.append((_mutate(table, r, rng), "U", ts - datetime.timedelta(seconds=1)))
        rows += dups
        pair_tag = None
        if self.pending_delete[table] is not None:
            rows.append((self.pending_delete[table], "D", ts0 + datetime.timedelta(milliseconds=5)))
            self.pending_delete[table] = None
            pair_tag = "delete"
        if pair:
            r = self.fresh_row(table)
            rows.append((r, "I", ts0))
            self.pending_delete[table] = r
            pair_tag = "insert" if pair_tag is None else "delete+insert"
        rel = os.path.join("files", "fair", table, DAY_DIR, self._name())
        out = []
        for r, op, ts in rows:
            o = dict(r)
            o["Op"], o["load_timestamp"] = op, ts
            if variant in CREDIT_TYPES:
                o[CREDIT] = decimal.Decimal(rng.randint(0, 99999999)).scaleb(-2)
            out.append(o)
        self._write(rel, self._schema(table, variant), out)
        keys = {tuple(r[k] for k in KEYS[table]) for r, _, _ in rows}
        self.touched[table] |= keys
        ev = {"kind": "cdc", "table": table, "path": rel, "rows": len(out),
              "unique_keys": len(keys), "schema": variant, "pair": pair_tag}
        ev.update(extra or {})
        self.events.append(ev)
        return ev

    def load_file(self, table):
        rows = self.existing_rows(table, 5)
        rel = os.path.join("files", "fair", table, DAY_DIR, "LOAD%08d.parquet" % (self.seq + 1))
        self.seq += 1
        self._write(rel, self._schema(table, "base", with_op=False), rows)
        self.touched[table] |= {tuple(r[k] for k in KEYS[table]) for r in rows}
        self.events.append({"kind": "load", "table": table, "path": rel, "rows": len(rows)})

    def offpattern_file(self, table):
        rows = [dict(r, Op="U", load_timestamp=DAY) for r in self.existing_rows(table, 5)]
        rel = os.path.join("files", "fair", table, DAY_DIR, "retry", self._name())
        self._write(rel, self._schema(table, "base"), rows)
        self.touched[table] |= {tuple(r[k] for k in KEYS[table]) for r in rows}
        self.events.append({"kind": "offpattern", "table": table, "path": rel, "rows": len(rows)})

    def finish(self, workload, params):
        for t in TABLES:
            keys = sorted(self.touched[t])
            cols = {k: [key[i] for key in keys] for i, k in enumerate(KEYS[t])}
            schema = pa.schema([self.base.schemas[t].field(k) for k in KEYS[t]])
            path = os.path.join(self.out, "touched", t + ".parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.table(cols, schema=schema), path)
        manifest = {"generator_version": GEN_VERSION, "workload": workload,
                    "keys": KEYS, "params": params, "events": self.events}
        with open(os.path.join(self.out, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        return manifest


# One block of the trickle schedule: (kind, table, rows, variant). A
# lineitem file with tied duplicates; a file above ~45 keys that takes the
# MoR route and a small file of the same table right after it that drains
# it; a second delivery of the lineitem file; a customer file that adds a
# DECIMAL column and inserts a fresh key, and the next customer file, which
# changes that column's precision and deletes the key; a LOAD and an
# off-pattern file. Every event kind is in each block. The seed picks keys,
# values and ops; the shape is fixed so that every seed costs about the same.
TRICKLE_BLOCK = [
    ("cdc", "lineitem", 6, None), ("cdc", "orders", 64, None), ("redeliver", "lineitem", 0, None),
    ("cdc", "orders", 5, None), ("cdc", "customer", 4, "add_credit"), ("load", "orders", 0, None),
    ("cdc", "customer", 4, "credit_p12"), ("offpattern", "orders", 0, None),
]
# Seconds of --seconds per block: about one block's wall time on a 4-core
# machine. The run length is a number of deliveries fixed by --seconds, so
# two commits always apply the same files.
TRICKLE_BLOCK_S = 30


def gen_trickle(g, seconds):
    """Closed-loop single client: one processFiles call per delivery, in
    ceil(seconds / TRICKLE_BLOCK_S) blocks of TRICKLE_BLOCK."""
    blocks = max(1, -(-seconds // TRICKLE_BLOCK_S))
    for _ in range(blocks):
        first = None
        for kind, table, rows, variant in TRICKLE_BLOCK:
            if kind == "redeliver":
                g.events.append(dict(first, kind="redeliver"))
            elif kind == "load":
                g.load_file(table)
            elif kind == "offpattern":
                g.offpattern_file(table)
            else:
                ev = g.cdc_file(table, rows, dup_frac=0.3 if first is None else 0.0,
                                pair=variant == "add_credit", variant=variant)
                first = first or ev
    return {"deliveries": len(g.events), "blocks": blocks}


# The stream's landing schedule: table and rows of each slot, cycled.
STREAM_SLOTS = [("orders", 8), ("lineitem", 12), ("customer", 5), ("lineitem", 6),
                ("orders", 10), ("customer", 9)]


def gen_stream(g, seconds):
    """Open loop: one small file due every 1/STREAM_RATE s, tables and
    sizes from STREAM_SLOTS. STREAM_PAIRS slots also carry a pair insert
    and land together with the table's next file, which deletes the key
    (two files flushed at once), so both reach the stream in one listing
    whatever the load."""
    n = max(2 * STREAM_PAIRS + 2, int(round(STREAM_RATE * seconds)))
    pairs = {1 + 4 * k for k in range(STREAM_PAIRS)}
    for i in range(n):
        table, rows = STREAM_SLOTS[i % len(STREAM_SLOTS)]
        g.cdc_file(table, rows, dup_frac=0.1, pair=i in pairs, extra={"due_s": i / STREAM_RATE})
        if i in pairs:
            g.cdc_file(table, 2, extra={"due_s": i / STREAM_RATE})
    return {"deliveries": len(g.events), "rate_per_s": STREAM_RATE}


def generate(base, workload, seed, seconds, out_dir):
    """Write the fixture of `workload` for `seed` under `out_dir`."""
    g = Gen(base, seed, out_dir)
    if workload == "trickle":
        params = gen_trickle(g, seconds)
    elif workload == "stream":
        params = gen_stream(g, seconds)
    else:
        raise ValueError("unknown workload " + workload)
    params["seed"] = seed
    return g.finish(workload, params)


def fixture_digest(out_dir):
    """sha256 over every file of a fixture, in path order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
