"""Seeded input generator for the benchmark (pure Python + pyarrow, no Spark).

Writes, from one integer seed:

- the three ETL feeds of the reference job: AT&T pipe-delimited CSV,
  AMAZON ``{key, value}`` JSON lines and UBER XML-archive parquet files
  (``ARCHIVE_ID, STREAM_RECORD_ID, STREAMING_DATA``);
- the ten tables the registry queries read, in the layout, vocabulary
  and per-scale row counts of the engine's TPC-H-like test data;
- an expected-outcome ledger: per load the INSERT, UPDATE,
  DUPLICATE and invalid counts, and per source the final active and
  total mart rows.

The same seed gives byte-identical files. The ledger is computed while
generating, by replaying what the pipelines do (keep-latest per key
inside a file, then hash-CDC routing against the key's active version);
``recount_ledger`` recomputes it by brute force from the written files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dimension vocabularies the package seeds (pyspark_etl_project_spark/dims.py).
# Values outside them are dimension misses and make a row invalid.
AREAS = {
    1: ["ORDER ISSUES", "PAYMENTS", "RETURNS & REFUNDS", "PRIME MEMBERSHIP",
        "MARKETPLACE & THIRD-PARTY SELLERS"],
    2: ["RIDE ISSUES", "DRIVER FEEDBACK", "FARE DISPUTES", "ACCOUNT & APP",
        "SAFETY CONCERNS"],
    3: ["BILLING", "NETWORK COVERAGE", "DEVICE SUPPORT", "PLAN CHANGES",
        "INTERNATIONAL ROAMING"],
}
AGENTS = {1: "AMZ-AGENT-%02d", 2: "UBR-AGENT-%02d", 3: "ATT-AGENT-%02d"}
CTYPES = {
    1: ["REGULAR", "PRIME", "BUSINESS", "PROMO-SEEKER"],
    2: ["RIDER", "DRIVER", "UBER-ONE", "LONG-TERM CUSTOMER"],
    3: ["PREPAID", "POSTPAID", "ENTERPRISE", "FAMILY PLAN"],
}
STATUSES = ["COMPLETED", "DROPPED", "TRANSFERRED"]
KINDS = ["CALL", "CHAT"]
RESOLUTIONS = ["SELF-HELP OPTION", "ESCALATED", "CALLBACK", "REFUND ISSUED"]
QUERY_STATUS = ["RESOLVED", "OPEN", "PENDING"]
RATING_WORDS = ["WORST", "BAD", "NEUTRAL", "GOOD", "BEST"]

CSV_FIELDS = [
    "TICKET_IDENTIFIER", "SUPPORT_CATEGORY", "AGENT_NAME", "DATE_OF_CALL",
    "CALL_STATUS", "CALL_TYPE", "TYPE_OF_CUSTOMER", "DURATION", "WORK_TIME",
    "TICKET_STATUS", "RESOLVED_IN_FIRST_CONTACT", "RESOLUTION_CATEGORY",
    "RATING",
]
JSON_FIELDS = [
    "INTERACTION_ID", "SUPPORT_CATEGORY", "AGENT_PSEUDO_NAME", "CONTACT_DATE",
    "INTERACTION_STATUS", "INTERACTION_TYPE", "TYPE_OF_CUSTOMER",
    "INTERACTION_DURATION", "TOTAL_TIME", "STATUS_OF_CUSTOMER_INCIDENT",
    "RESOLVED_IN_FIRST_CONTACT", "SOLUTION_TYPE", "RATING",
]
XML_FIELDS = [
    "SUPPORT_IDENTIFIER", "CONTACT_REGARDING", "AGENT_CODE",
    "DATE_OF_INTERACTION", "STATUS_OF_INTERACTION", "TYPE_OF_INTERACTION",
    "CUSTOMER_TYPE", "CONTACT_DURATION", "AFTER_CONTACT_WORK_TIME",
    "INCIDENT_STATUS", "FIRST_CONTACT_SOLVE", "TYPE_OF_RESOLUTION",
    "SUPPORT_RATING", "TIME_STAMP",
]
ARCHIVE_SCHEMA = pa.schema([
    pa.field("ARCHIVE_ID", pa.int64(), nullable=False),
    pa.field("STREAM_RECORD_ID", pa.int64(), nullable=False),
    pa.field("STREAMING_DATA", pa.string()),
])

# Share of a load's distinct keys by routing class; the rest are INSERTs.
DUP_SHARE, UPD_SHARE = 0.5, 0.2
INVALID_SHARE = 0.03     # fresh records with a dimension miss or NULL field
INFILE_DUP_SHARE = 0.03  # keys sent twice in one file (keep-latest)


# --- one record per source --------------------------------------------------

def _record(rng: random.Random, source: int, key: int, ts: int) -> dict:
    """A fresh record for ``key``; about INVALID_SHARE of them carry a
    dimension miss or a value that normalizes to NULL (IS_VALID_DATA=0)."""
    bad = rng.random() < INVALID_SHARE
    miss_agent = bad and rng.random() < 0.5
    agent = AGENTS[source] % (99 if miss_agent else rng.randint(1, 5))
    day = 1 + rng.randrange(28)
    month = 1 + rng.randrange(12)
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    handle = rng.randint(20, 3599)
    work = rng.randint(5, 1799)
    area = rng.choice(AREAS[source])
    ctype = rng.choice(CTYPES[source])
    status, kind = rng.choice(STATUSES), rng.choice(KINDS)
    qstat, resol = rng.choice(QUERY_STATUS), rng.choice(RESOLUTIONS)
    null_field = bad and not miss_agent
    if source == 3:
        return {
            "TICKET_IDENTIFIER": str(key), "SUPPORT_CATEGORY": area,
            "AGENT_NAME": agent,
            "DATE_OF_CALL": f"{month:02d}{day:02d}2024{hh:02d}{mm:02d}{ss:02d}",
            "CALL_STATUS": status, "CALL_TYPE": kind, "TYPE_OF_CUSTOMER": ctype,
            "DURATION": str(handle), "WORK_TIME": str(work),
            "TICKET_STATUS": qstat,
            "RESOLVED_IN_FIRST_CONTACT": str(rng.randint(0, 1)),
            "RESOLUTION_CATEGORY": resol,
            "RATING": "" if null_field else rng.choice(RATING_WORDS),
        }
    if source == 1:
        return {
            "INTERACTION_ID": key, "SUPPORT_CATEGORY": area,
            "AGENT_PSEUDO_NAME": agent,
            "CONTACT_DATE": f"{day:02d}/{month:02d}/2024 {hh:02d}:{mm:02d}:{ss:02d}",
            "INTERACTION_STATUS": status, "INTERACTION_TYPE": kind,
            "TYPE_OF_CUSTOMER": ctype, "INTERACTION_DURATION": handle,
            "TOTAL_TIME": handle + work, "STATUS_OF_CUSTOMER_INCIDENT": qstat,
            "RESOLVED_IN_FIRST_CONTACT": ("MAYBE" if null_field
                                          else rng.choice(["YES", "NO"])),
            "SOLUTION_TYPE": resol, "RATING": rng.randint(1, 10),
        }
    return {
        "SUPPORT_IDENTIFIER": str(key), "CONTACT_REGARDING": area,
        "AGENT_CODE": agent,
        "DATE_OF_INTERACTION": f"2024{month:02d}{day:02d}{hh:02d}{mm:02d}{ss:02d}",
        "STATUS_OF_INTERACTION": status, "TYPE_OF_INTERACTION": kind,
        "CUSTOMER_TYPE": ctype,
        "CONTACT_DURATION": f"{handle // 3600}:{handle % 3600 // 60:02d}:{handle % 60:02d}",
        "AFTER_CONTACT_WORK_TIME": f"0:{work // 60:02d}:{work % 60:02d}",
        "INCIDENT_STATUS": qstat,
        "FIRST_CONTACT_SOLVE": ("N/A" if null_field
                                else rng.choice(["TRUE", "FALSE"])),
        "TYPE_OF_RESOLUTION": resol, "SUPPORT_RATING": str(rng.randint(1, 5)),
        "TIME_STAMP": str(ts),
    }


def is_valid(source: int, rec: dict) -> bool:
    """IS_VALID_DATA of the record once the pipeline has normalized it."""
    agent = {1: "AGENT_PSEUDO_NAME", 2: "AGENT_CODE", 3: "AGENT_NAME"}[source]
    if not any(rec[agent] == AGENTS[source] % i for i in range(1, 6)):
        return False
    if source == 3:
        return rec["RATING"] in RATING_WORDS
    if source == 1:
        return rec["RESOLVED_IN_FIRST_CONTACT"] in ("YES", "NO")
    return rec["FIRST_CONTACT_SOLVE"] in ("TRUE", "FALSE")


def content(rec: dict) -> tuple:
    """What the source's row fingerprint hashes: every field, in order.
    Two deliveries route DUPLICATE exactly when this tuple is equal."""
    return tuple(rec.values())


# --- deliveries, routing and the ledger ------------------------------------

@dataclass
class Delivery:
    """One file: its rows in arrival order, and what routing must do."""
    source: int
    load_id: int
    rows: list = field(default_factory=list)      # (order_id, record)
    insert: int = 0
    update: int = 0
    duplicate: int = 0
    invalid: int = 0      # among INSERT + UPDATE rows (what the audit counts)

    def ledger(self) -> dict:
        fresh = self.insert + self.update
        return {"source": self.source, "load_id": self.load_id,
                "rows": len(self.rows), "insert": self.insert,
                "update": self.update, "duplicate": self.duplicate,
                "invalid": self.invalid, "fresh": fresh,
                "valid_pct": ((fresh - self.invalid) * 100.0 / fresh
                              if fresh else None)}


class SourceState:
    """The active version of every key of one source, as the mart holds it."""

    def __init__(self, source: int, rng: random.Random):
        self.source = source
        self.rng = rng
        self.active: dict[int, dict] = {}
        self.total = 0
        self.next_key = 1

    def route(self, d: Delivery) -> None:
        """Keep-latest per key inside the delivery, then hash-CDC route
        against the active version and apply the SCD2 outcome."""
        latest: dict[int, dict] = {}
        for _, rec in d.rows:
            latest[_key_of(self.source, rec)] = rec
        for k, rec in latest.items():
            old = self.active.get(k)
            if old is not None and content(old) == content(rec):
                d.duplicate += 1
                continue
            if old is None:
                d.insert += 1
            else:
                d.update += 1
            d.invalid += not is_valid(self.source, rec)
            self.active[k] = rec
            self.total += 1


def _key_of(source: int, rec: dict) -> int:
    return int(rec[{1: "INTERACTION_ID", 2: "SUPPORT_IDENTIFIER",
                    3: "TICKET_IDENTIFIER"}[source]])


class Feed:
    """Draws deliveries for one source with the routing mix above."""

    def __init__(self, source: int, rng: random.Random, clock: list):
        self.state = SourceState(source, rng)
        self.rng = rng
        self.clock = clock  # shared arrival counter: order ids, TIME_STAMPs

    def _tick(self) -> int:
        self.clock[0] += 1
        return self.clock[0]

    def _fresh(self, key: int) -> dict:
        return _record(self.rng, self.state.source, key, self._tick())

    def delivery(self, n: int, load_id: int, new_only: bool = False) -> Delivery:
        rng, st = self.rng, self.state
        d = Delivery(st.source, load_id)
        known = list(st.active)
        n_dup = 0 if new_only else min(int(n * DUP_SHARE), len(known))
        n_upd = 0 if new_only else min(int(n * UPD_SHARE), len(known) - n_dup)
        picked = rng.sample(known, n_dup + n_upd)
        recs = [dict(st.active[k]) for k in picked[:n_dup]]
        recs += [self._fresh(k) for k in picked[n_dup:]]
        for _ in range(n - len(recs)):
            recs.append(self._fresh(st.next_key))
            st.next_key += 1
        rng.shuffle(recs)
        # In-file duplicates: an earlier, superseded version of a key that
        # appears again later in the same file (keep-latest drops it).
        placed = [(float(i), r) for i, r in enumerate(recs)]
        for i in rng.sample(range(len(recs)), int(len(recs) * INFILE_DUP_SHARE)):
            placed.append((rng.randrange(i + 1) - 0.5,
                           self._fresh(_key_of(st.source, recs[i]))))
        placed.sort(key=lambda t: t[0])
        d.rows = [(self._tick(), r) for _, r in placed]
        st.route(d)
        return d


# --- writers ----------------------------------------------------------------

def write_csv(path: str, d: Delivery) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("|".join(CSV_FIELDS) + "\n")
        for _, r in d.rows:
            f.write("|".join(r[c] for c in CSV_FIELDS) + "\n")


def write_jsonl(path: str, d: Delivery) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for oid, r in d.rows:
            f.write(json.dumps({"key": oid, "value": r}, sort_keys=False) + "\n")


def xml_record(r: dict) -> str:
    return "<RECORD>" + "".join(f"<{c}>{escape(r[c])}</{c}>"
                                for c in XML_FIELDS) + "</RECORD>"


def write_archive(path: str, d: Delivery) -> None:
    ids = [oid for oid, _ in d.rows]
    table = pa.table({"ARCHIVE_ID": ids, "STREAM_RECORD_ID": ids,
                      "STREAMING_DATA": [xml_record(r) for _, r in d.rows]},
                     schema=ARCHIVE_SCHEMA)
    pq.write_table(table, path)


WRITERS = {3: (write_csv, "csv"), 1: (write_jsonl, "jsonl"),
           2: (write_archive, "parquet")}


def _write(d: Delivery, directory: str, stem: str) -> str:
    writer, ext = WRITERS[d.source]
    path = os.path.join(directory, f"{stem}.{ext}")
    writer(path, d)
    return path


def _finals(feeds: dict[int, Feed]) -> dict:
    return {str(s): {"active": len(f.state.active), "total": f.state.total}
            for s, f in feeds.items()}


# --- workload inputs --------------------------------------------------------

def etl_inputs(seed: int, out: str, seed_rows: int, load_rows: int,
               rounds: int) -> dict:
    """Batch-load inputs: one seeding file per source (new keys only) and
    ``rounds`` timed rounds of one CSV, one JSON and one XML load, in a
    seeded order.
    Returns the manifest (paths + ledger) and writes it as ledger.json."""
    rng = random.Random(seed)
    clock = [0]
    feeds = {s: Feed(s, random.Random(rng.random()), clock) for s in (3, 1, 2)}
    os.makedirs(out, exist_ok=True)
    load_id = 0
    seed_loads, round_loads = [], []
    for s, f in feeds.items():
        load_id += 1
        d = f.delivery(seed_rows, load_id, new_only=True)
        seed_loads.append(_entry(d, _write(d, out, f"seed_{s}")))
    for r in range(rounds):
        order = list(feeds)
        rng.shuffle(order)
        loads = []
        for s in order:
            load_id += 1
            d = feeds[s].delivery(load_rows, load_id)
            loads.append(_entry(d, _write(d, out, f"r{r}_load{load_id}_{s}")))
        round_loads.append(loads)
    manifest = {"seed": seed, "seed_loads": seed_loads, "warmup": [],
                "rounds": round_loads, "finals": _finals(feeds),
                "finals_by_round": _finals_by_round(seed_loads, round_loads)}
    _dump(manifest, os.path.join(out, "ledger.json"))
    return manifest


def _entry(d: Delivery, path: str) -> dict:
    return {"path": os.path.basename(path), **d.ledger()}


def _finals_by_round(seed_loads: list, rounds: list) -> list:
    """Cumulative (active, total) per source after timed round i.
    Active rows are distinct keys, so track them through the ledger's
    INSERT counts; total rows are every fresh version."""
    acc: dict[str, dict] = {}
    for e in seed_loads:
        a = acc.setdefault(str(e["source"]), {"active": 0, "total": 0})
        a["active"] += e["insert"]
        a["total"] += e["fresh"]
    out = []
    for loads in rounds:
        for e in loads:
            a = acc.setdefault(str(e["source"]), {"active": 0, "total": 0})
            a["active"] += e["insert"]
            a["total"] += e["fresh"]
        out.append(json.loads(json.dumps(acc)))
    return out


def _dump(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# --- brute-force recount ------------------------------------------------------

def read_delivery(path: str) -> list[tuple[int, int, tuple]]:
    """(order id, key, content) per row of a written feed file, parsed
    back with the standard library and pyarrow only."""
    import csv
    import xml.etree.ElementTree as ET

    rows = []
    if path.endswith(".csv"):
        with open(path, encoding="utf-8", newline="") as f:
            for i, r in enumerate(csv.DictReader(f, delimiter="|")):
                rows.append((i, int(r["TICKET_IDENTIFIER"]),
                             tuple(r[c] for c in CSV_FIELDS)))
    elif path.endswith(".jsonl"):
        with open(path, encoding="utf-8") as f:
            for line in f:
                o = json.loads(line)
                v = o["value"]
                rows.append((o["key"], v["INTERACTION_ID"],
                             tuple(v[c] for c in JSON_FIELDS)))
    else:
        t = pq.read_table(path).to_pylist()
        for r in t:
            el = ET.fromstring(r["STREAMING_DATA"])
            vals = tuple(el.findtext(c) for c in XML_FIELDS)
            rows.append((r["ARCHIVE_ID"], int(vals[0]), vals))
    return rows


def _valid_content(source: int, vals: tuple) -> bool:
    fields = {1: JSON_FIELDS, 2: XML_FIELDS, 3: CSV_FIELDS}[source]
    return is_valid(source, dict(zip(fields, vals)))


def recount_ledger(directory: str, manifest: dict) -> list[dict]:
    """Replay every delivery of the manifest in order from the files
    alone: latest row per key by order id, compare with the key's active
    content. Returns one ledger row per delivery, in manifest order."""
    active: dict[tuple[int, int], tuple] = {}
    out = []
    deliveries = list(manifest["seed_loads"]) + list(manifest["warmup"])
    for loads in manifest["rounds"]:
        deliveries += loads
    for e in deliveries:
        s = e["source"]
        rows = read_delivery(os.path.join(directory, e["path"]))
        latest: dict[int, tuple] = {}
        for oid, k, vals in sorted(rows):
            latest[k] = vals
        c = {"insert": 0, "update": 0, "duplicate": 0, "invalid": 0}
        for k, vals in latest.items():
            old = active.get((s, k))
            if old == vals:
                c["duplicate"] += 1
                continue
            c["insert" if old is None else "update"] += 1
            c["invalid"] += not _valid_content(s, vals)
            active[(s, k)] = vals
        out.append({"path": e["path"], **c})
    return out


# --- registry-query tables ----------------------------------------------------

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def query_tables(seed: int, out: str, sf: float) -> None:
    """The ten tables the registry queries read, in the column layout of
    the engine's TPC-H-like test data, scaled by ``sf`` (1.0 = 1.5M orders)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = {"customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
         "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
         "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
         "documents": max(500, int(50_000 * sf)),
         "embeddings": max(500, int(20_000 * sf)),
         "users": max(50, int(15_000 * sf))}

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, size).astype("timedelta64[D]")

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                     "HOUSEHOLD"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil",
                     "gizmo"])
    ptype = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    pk = np.arange(npart, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptype[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(1000, 500_000, no),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": days("1995-01-02", 2498, nl)})
    ne = n["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": np.array(["signup", "purchase", "view", "click",
                                "error"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_WORDS)[rng.integers(0, len(_WORDS),
                                                  int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "fr",
                          "de"])[rng.integers(0, 7, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
