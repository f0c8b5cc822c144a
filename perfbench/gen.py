"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and returns the inputs the
program receives plus the ground truth the correctness checks use.
The ground truth stays in the benchmark; the program only sees the
generated files and stream chunks.
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass, field

import numpy as np

AUTOTAG = {"slug": "kinesis-autotag", "text": "kinesis autotag"}

_WORDS = (
    "the a of to and in on for with as by at from city council market "
    "report season game team vote election policy budget school water "
    "storm court police health study price rate bank oil energy climate "
    "music film art book museum street river bridge train flight coach "
    "player coach league record fans crowd mayor senate house bill law"
).split()

# event classes of the tag stream; the shares are the generator's knobs
PUBLISH = "publish"  # insert-story, published, known id -> tagged
OTHER_OP = "other_op"  # other operation / unpublished -> untouched
URL_POINTER = "url_pointer"  # oversized doc: payload is an S3 url
CORRUPT = "corrupt"  # not gzip -> dead-letter route, untouched
UNKNOWN = "unknown"  # publish insert-story, id not in store -> .deadletter


@dataclass
class StreamSpec:
    store_docs: int
    events: int
    shares: dict = field(
        default_factory=lambda: {
            PUBLISH: 0.70,
            OTHER_OP: 0.12,
            URL_POINTER: 0.04,
            CORRUPT: 0.04,
            UNKNOWN: 0.10,
        }
    )
    zipf_a: float = 1.2  # key skew over the store ids
    body_words: int = 450  # ~3 KB of ANS JSON per story
    pretagged_share: float = 0.05  # seed docs that already carry the tag


@dataclass
class StreamInputs:
    store_rows: list  # (_id, revision, tags, seq)
    payloads: list  # gzip'd (or corrupt) event bytes, in stream order
    shards: np.ndarray  # shard of each event
    kinds: list  # event class of each event (ground truth)
    ids: list  # target id of each event (None for url/corrupt)
    measured: dict  # measured share of each generated property


def doc_id(i: int) -> str:
    return f"story-{i:07d}"


def _text(rng: np.random.Generator, n: int) -> str:
    return " ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n)])


def stream_inputs(seed: int, spec: StreamSpec, n_shards: int = 4) -> StreamInputs:
    rng = np.random.default_rng(seed)
    s = spec.store_docs
    pretagged = rng.random(s) < spec.pretagged_share
    store_rows = []
    for i in range(s):
        tags = [{"slug": f"topic-{i % 17}", "text": f"Topic {i % 17}"}]
        if pretagged[i]:
            tags.append(dict(AUTOTAG))
        store_rows.append((doc_id(i), "r1", tags, 0))

    kinds_all = list(spec.shares)
    p = np.asarray([spec.shares[k] for k in kinds_all])
    kind_idx = rng.choice(len(kinds_all), size=spec.events, p=p / p.sum())
    # Zipf-skewed popularity over a seeded permutation of the store ids
    perm = rng.permutation(s)
    ranks = np.minimum(rng.zipf(spec.zipf_a, spec.events) - 1, s - 1)
    known = perm[ranks]
    payloads, kinds, ids = [], [], []
    hot = 0
    for j in range(spec.events):
        kind = kinds_all[kind_idx[j]]
        kinds.append(kind)
        if kind == CORRUPT:
            payloads.append(b"\x00not-gzip-" + rng.bytes(24))
            ids.append(None)
            continue
        if kind == URL_POINTER:
            url = f"s3://ans-oversized/{doc_id(int(known[j]))}.json.gz"
            payloads.append(gzip.compress(url.encode(), mtime=0))
            ids.append(None)
            continue
        if kind == UNKNOWN:
            target = f"ghost-{seed}-{j:07d}"
        else:
            target = doc_id(int(known[j]))
            hot += ranks[j] < max(1, s // 100)
        ids.append(target)
        if kind == OTHER_OP:
            op, published = (
                ("update-story", True) if rng.random() < 0.5 else ("insert-story", False)
            )
        else:
            op, published = "insert-story", True
        doc = {
            "id": target,
            "operation": op,
            "published": published,
            "created": bool(rng.random() < 0.3),
            "type": "story",
            "trigger": {"referent_update": bool(rng.random() < 0.5)},
            "body": {
                "headlines": {"basic": _text(rng, 8)},
                "revision": f"r{j}",
                "content_elements": [
                    {"type": "text", "content": _text(rng, spec.body_words // 5)}
                    for _ in range(5)
                ],
            },
            "taxonomy": {"tags": [{"slug": "news", "text": "News"}]},
        }
        payloads.append(gzip.compress(json.dumps(doc).encode(), compresslevel=1, mtime=0))
    shards = rng.integers(0, n_shards, spec.events)
    n = max(1, spec.events)
    measured = {f"share_{k}": kinds.count(k) / n for k in kinds_all}
    keyed = sum(1 for k in kinds if k in (PUBLISH, OTHER_OP))
    measured["share_hot_1pct_keys"] = hot / max(1, keyed)
    measured["payload_bytes_mean"] = float(np.mean([len(b) for b in payloads]))
    measured["store_pretagged_share"] = float(pretagged.mean())
    return StreamInputs(store_rows, payloads, shards, kinds, ids, measured)


def expected_tag_state(inputs: StreamInputs):
    """(ids that must end tagged exactly once, ids that must land in the
    dead-letter table)."""
    tagged = {i for k, i in zip(inputs.kinds, inputs.ids) if k == PUBLISH}
    dead = {i for k, i in zip(inputs.kinds, inputs.ids) if k == UNKNOWN}
    return tagged, dead


# -- curation corpus --------------------------------------------------------


@dataclass
class CorpusSpec:
    docs: int
    exact_dup_share: float = 0.10
    near_dup_share: float = 0.10
    low_quality_share: float = 0.10
    mean_words: int = 120


@dataclass
class CorpusInputs:
    rows: list  # (doc_id, text)
    exact_of: dict  # planted exact duplicate -> its original
    near_of: dict  # planted near duplicate -> its original
    low_quality: set
    measured: dict


def corpus_inputs(seed: int, spec: CorpusSpec) -> CorpusInputs:
    """Clean documents are random draws from a large vocabulary (so two
    clean documents share almost no 3-word shingles); planted near
    duplicates edit ~5% of an original's words; low-quality documents
    are short runs of symbols and digits the quality gate rejects."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray([f"w{k:05d}" for k in range(20000)] + _WORDS)
    n = spec.docs
    kind = rng.choice(
        4,
        size=n,
        p=[
            1 - spec.exact_dup_share - spec.near_dup_share - spec.low_quality_share,
            spec.exact_dup_share,
            spec.near_dup_share,
            spec.low_quality_share,
        ],
    )
    kind[0] = 0
    rows, texts, originals = [], [], []
    exact_of, near_of, low = {}, {}, set()
    lengths = np.clip(rng.lognormal(np.log(spec.mean_words), 0.4, n), 40, 600).astype(int)
    for i in range(n):
        key = f"d{i:07d}"
        k = kind[i]
        if k in (1, 2) and originals:
            src = originals[int(rng.integers(0, len(originals)))]
            words = texts[src].split(" ")
            if k == 1:
                text = texts[src]
                exact_of[key] = rows[src][0]
            else:
                words = list(words)
                for pos in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                    words[pos] = str(vocab[int(rng.integers(0, len(vocab)))])
                text = " ".join(words)
                near_of[key] = rows[src][0]
        elif k == 3:
            text = " ".join(
                "".join(rng.choice(list("#$%&*+=<>|~0123456789"), 3))
                for _ in range(int(rng.integers(3, 12)))
            )
            low.add(key)
        else:
            words = vocab[rng.integers(0, len(vocab), lengths[i])]
            # a sprinkling of stopwords keeps clean text above the gate
            words[rng.random(lengths[i]) < 0.3] = "the"
            text = " ".join(words)
            originals.append(i)
        rows.append((key, text))
        texts.append(text)
    measured = {
        "share_exact_dup": len(exact_of) / n,
        "share_near_dup": len(near_of) / n,
        "share_low_quality": len(low) / n,
        "words_mean": float(np.mean([len(t.split(" ")) for _, t in rows])),
    }
    return CorpusInputs(rows, exact_of, near_of, low, measured)


# -- analytic tables (TPC-H-style star + events + documents + embeddings) ----

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "steel"]
_PNOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_columns(seed: int, sf: float) -> dict:
    """Column dicts of the ten catalog tables at scale factor ``sf``,
    with the value domains the registry queries filter on."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(10, int(50_000 * sf))
    n_emb = max(10, int(20_000 * sf))
    i32 = np.int32
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.asarray(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{_PADJ[a]} {_PNOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(np.asarray(_PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": list(np.asarray(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.asarray(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    }
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": list(np.asarray(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    words = np.asarray(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(m))])
        for m in rng.integers(8, 90, n_docs)
    ]
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(np.asarray(_LANGS)[rng.integers(0, len(_LANGS), n_docs)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.8, (n_emb, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(i32),
    }
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> dict:
    """Write the catalog tables as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in table_columns(seed, sf).items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array([x.tolist() for x in v], pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
