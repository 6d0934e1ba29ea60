"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed`` alone: the
fixture tables the query registry expects (TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``), a Kafka-topic replay of
Avro-encoded ``Message`` records, one file per Kafka partition, and
events-shaped stream chunks.  The Avro encoder below is written from the
Avro 1.x specification ("Binary Encoding") and shares no code with the
package's codec, so a codec change cannot change the benchmark's inputs.

The same seed gives byte-identical files; ``tree_hash`` fingerprints them.
"""

from __future__ import annotations

import hashlib
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- Avro

def _varint(out: bytearray, u: int) -> None:
    while u >= 0x80:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)


def _long(out: bytearray, n: int) -> None:
    # zig-zag: sign bit moves to bit 0 so small magnitudes stay short
    _varint(out, (n << 1) ^ (n >> 63))


def _string(out: bytearray, s: str) -> None:
    b = s.encode("utf-8")
    _long(out, len(b))
    out += b


def avro_message(msg_id: str, username: str, jid: str, sent_ms: int, stanza: str) -> bytes:
    """One ``Message`` record (msgId, username, jid, sentTime, stanza)."""
    out = bytearray()
    _string(out, msg_id)
    _string(out, username)
    _string(out, jid)
    _long(out, sent_ms)
    _string(out, stanza)
    return bytes(out)


# ------------------------------------------------------------- events

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: event_type -> XMPP message type attribute written into the stanza.
STANZA_TYPES = {"click": "chat", "view": "photo", "purchase": "video",
                "signup": "register", "error": "missed"}
_JAN_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000


def events_table(rng: np.random.Generator, n: int, first_id: int = 0,
                 n_users: int | None = None, days: int = 30) -> pa.Table:
    """Events-fixture-shaped rows, ``event_id`` ascending with ``ts``."""
    n_users = n_users or max(1, n * 15 // 1000)
    ts = np.sort(rng.integers(_JAN_2024_US, _JAN_2024_US + days * _DAY_US, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })


def stanza(event_type: str, k: str) -> str:
    """The XMPP stanza of a generated message (its plaintext body)."""
    return f'<message type="{STANZA_TYPES[event_type]}"><body>{event_type}:{k}</body></message>'


def _months(ev: pa.Table) -> list[str]:
    """``yyyyMM`` + ``M`` of each ``ts`` (UTC), the summary's month key."""
    m = ev.column("ts").to_numpy().astype("datetime64[M]").astype(str)
    return [v.replace("-", "") + "M" for v in m.tolist()]


def expected_messages(ev: pa.Table):
    """The message fields the pipeline must derive from an events table,
    computed here independently of the program (for the output checks).
    Returns (msg_ids, {(username, jid, date_partition)})."""
    ids = [str(v) for v in ev.column("event_id").to_pylist()]
    users = ev.column("user_id").to_pylist()
    ks = [p[6:-1] for p in ev.column("props").to_pylist()]
    months = _months(ev)
    summary = {(f"user{u}", f"peer{k}@chat.local", m) for u, k, m in zip(users, ks, months)}
    return ids, summary


def kafka_replay(ev: pa.Table, topic_dir: str, partitions: int = 4) -> int:
    """Write ``ev`` as a topic directory of Kafka-record rows whose ``value``
    is the Avro ``Message``: one parquet file per Kafka partition (row ``i``
    goes to partition ``i % partitions``), in offset order, so a reader can
    decode the partitions in parallel.  Returns the number of rows."""
    ids = ev.column("event_id").to_pylist()
    users = ev.column("user_id").to_pylist()
    types = ev.column("event_type").to_pylist()
    props = ev.column("props").to_pylist()
    ts_ms = (ev.column("ts").cast(pa.int64()).to_numpy() // 1000).tolist()
    values = []
    for i, u, t, p, ms in zip(ids, users, types, props, ts_ms):
        k = p[6:-1]
        values.append(avro_message(str(i), f"user{u}", f"peer{k}@chat.local", ms, stanza(t, k)))
    n = len(values)
    tbl = pa.table({
        "topic": pa.array(["messages"] * n),
        "partition": pa.array(np.arange(n, dtype=np.int32) % partitions),
        "offset": pa.array(np.arange(n, dtype=np.int64) // partitions),
        "timestamp": ev.column("ts"),
        "key": pa.array([str(u).encode() for u in users], pa.binary()),
        "value": pa.array(values, pa.binary()),
    })
    os.makedirs(topic_dir, exist_ok=True)
    for p in range(partitions):
        pq.write_table(tbl.take(np.arange(p, n, partitions)), f"{topic_dir}/part-{p}.parquet")
    return n


def replicate(base: pa.Table, k: int, rng: np.random.Generator, id_space: int) -> pa.Table:
    """``k`` copies of ``base`` with ids re-keyed into per-replica spaces by
    a seeded permutation of the replica slots, timestamps unchanged."""
    slots = rng.permutation(k)
    reps = []
    for s in slots.tolist():
        off = int(s) * id_space
        reps.append(base.set_column(0, "event_id", pa.array(
            base.column("event_id").to_numpy() + off))
            .set_column(2, "user_id", pa.array(base.column("user_id").to_numpy() + off)))
    return pa.concat_tables(reps)


# ----------------------------------------------------- fixture tables

_ADJ = ("small", "red", "blue", "hot", "old", "new", "cold", "big")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "anvil", "rod", "plate")
_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
_DAY0 = np.datetime64("1995-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, span_days):
    return pa.array(_DAY0 + rng.integers(0, span_days, n) * np.timedelta64(1, "D"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n).tolist()]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten registry tables at scale ``sf`` (1.0 = 6M lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(50, int(150_000 * sf)), max(20, int(10_000 * sf))
    n_part, n_ord = max(50, int(200_000 * sf)), max(200, int(1_500_000 * sf))
    n_li = 4 * n_ord
    pk = np.arange(n_part, dtype=np.int64)
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())]),
            "p_brand": pa.array([f"Brand#{v}" for v in rng.integers(1, 26, n_part).tolist()]),
            "p_type": pa.array(np.array(_TYPES, dtype=object)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(("F", "O", "P"), dtype=object)[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _dates(rng, n_ord, 2404),
            "o_orderpriority": pa.array(np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(("O", "F"), dtype=object)[rng.integers(0, 2, n_li)]),
            "l_shipdate": _dates(rng, n_li, 2499),
        }),
        "events": events_table(rng, max(1000, int(1_000_000 * sf))),
        "documents": _documents(rng, max(200, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(200, int(20_000 * sf))),
    }
    return t


def write_fixture(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in fixture_tables(seed, sf).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")


def tree_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\x00")
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
