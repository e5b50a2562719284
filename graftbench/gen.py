"""Seeded input generators for graftbench.

Everything a run feeds the program is written here as parquet before
the JVM starts, from the --seed argument alone: the same seed gives
byte-identical inputs. The program reads these files as any client's
input, and the checkers read the same files back.
"""
import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- pubsub
SHARDS = 8
MSGS_PER_ROUND = 5000
WARM_ROUNDS = 1
REUPLOAD_SHARE = 0.2      # re-uploads of an earlier round's text, new uuid
LOW_SHARE = 0.15          # low-quality texts (score about 0.2)
SKEW = 1.2                # Zipf exponent of the partition-key draw
T0_US = 1767225600 * 10**6  # 2026-01-01T00:00:00Z
STOP = ("the", "a", "of", "and", "to")
_ON = "b c d f g k l m n p r s t v z".split()
VOCAB = [a + b + c + "ex" for a in _ON for b in ("ai", "e", "i", "o", "u", "ou") for c in _ON[:5]]


def shard_of(key):
    """The publisher's routing: md5(key)'s first 15 hex digits mod 8."""
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % SHARDS


# one partition key per shard, so the key draw is the shard load
KEYS = [next(k for k in (f"src{s}-{n}" for n in range(1000)) if shard_of(k) == s)
        for s in range(SHARDS)]


def good_text(g, token):
    """70-130 words, 40% stop words, a period every 15 words: scores
    0.6 or more. `g` is a numpy Generator."""
    n = 70 + int(g.integers(61))
    stops = set((g.permutation(n - 1)[:round(0.4 * n)] + 1).tolist())
    plain = g.integers(len(VOCAB), size=n).tolist()
    stop_words = g.integers(len(STOP), size=n).tolist()
    caps = (g.integers(10, size=n) == 0).tolist()
    words = [token] + [STOP[stop_words[i]] if i in stops else
                       VOCAB[plain[i]].capitalize() if caps[i] else VOCAB[plain[i]]
                       for i in range(1, n)]
    return " ".join(w + "." if i % 15 == 14 else w for i, w in enumerate(words))


def low_text(r, token):
    """4-12 words, no stop words, each trailed by punctuation: scores
    about 0.2."""
    marks = ("!!", "??", "!?", ";;", "...")
    return " ".join((token if i == 0 else r.choice(VOCAB)) + r.choice(marks)
                    for i in range(4 + r.randrange(9)))


def variant(r, text):
    """A re-upload: the same text up to whitespace and the case of one
    non-stop word, so its normalised digest matches the original's."""
    ws = text.split(" ")
    j = r.randrange(len(ws))
    if ws[j] not in STOP and r.random() < 0.5:
        ws[j] = ws[j].upper()
    k = r.randrange(len(ws))
    ws[k] += " "
    return " ".join(ws) + ("  " if r.random() < 0.5 else "")


def pubsub(out, seed, timed_rounds):
    r = random.Random(seed)
    ng = np.random.default_rng(seed)
    weights = [1.0 / (i + 1) ** SKEW for i in range(SHARDS)]
    keys = KEYS[:]
    r.shuffle(keys)
    originals = []
    for rnd in range(WARM_ROUNDS + timed_rounds):
        before = len(originals)
        rows = {c: [] for c in ("event_id", "uuid", "partition_key", "payload", "headers", "ts")}
        for j in range(MSGS_PER_ROUND):
            g = rnd * MSGS_PER_ROUND + j
            u = r.random()
            if before and u < REUPLOAD_SHARE:
                text = variant(r, originals[r.randrange(before)])
            else:
                token = "doc" + np.base_repr(g, 36).lower()
                if u < REUPLOAD_SHARE + LOW_SHARE:
                    text = low_text(r, token)
                else:
                    text = good_text(ng, token)
                originals.append(text)
            key = r.choices(keys, weights)[0]
            rows["event_id"].append(g + 1)
            rows["uuid"].append(str(g + 1))
            rows["partition_key"].append(key)
            rows["payload"].append(text.encode())
            rows["headers"].append([("eventType", "doc"), ("source", key)])
            rows["ts"].append(T0_US + g * 1000)
        d = out / f"round={rnd}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "uuid": pa.array(rows["uuid"], pa.string()),
            "partition_key": pa.array(rows["partition_key"], pa.string()),
            "payload": pa.array(rows["payload"], pa.binary()),
            "headers": pa.array(rows["headers"], pa.map_(pa.string(), pa.string())),
            "ts": pa.array(rows["ts"], pa.timestamp("us", tz="UTC")),
        }), d / "part-0.parquet")


# ----------------------------------------------------------------- index
DIM = 64
CLUSTERS = 16
CORPUS = 4000
PROBES_PER_BATCH = 50
DRIFT_PER_BATCH = 200
NOISE = 0.35
DRIFT = 0.5
PROBE_ID_BASE = 10_000_000


def index(out, seed, probe_batches, drift_batches):
    """A clustered corpus, probe batches near the same centres, and
    drift batches near centres moved by DRIFT."""
    r = np.random.default_rng(seed)
    centers = r.normal(size=(CLUSTERS, DIM))
    drifted = centers + DRIFT * r.normal(size=(CLUSTERS, DIM))

    def near(c, n):
        return c[r.integers(CLUSTERS, size=n)] + NOISE * r.normal(size=(n, DIM))

    def write(d, ids, vecs):
        d.mkdir(parents=True)
        pq.write_table(pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }), d / "part-0.parquet")

    write(out / "corpus", np.arange(CORPUS), near(centers, CORPUS))
    for b in range(probe_batches):
        write(out / "probes" / f"batch={b}",
              PROBE_ID_BASE + b * PROBES_PER_BATCH + np.arange(PROBES_PER_BATCH),
              near(centers, PROBES_PER_BATCH))
    for b in range(drift_batches):
        write(out / "drift" / f"batch={b}",
              CORPUS + b * DRIFT_PER_BATCH + np.arange(DRIFT_PER_BATCH),
              near(drifted, DRIFT_PER_BATCH))


# -------------------------------------------------------------- registry
# The shape of the sf0.1 test tables (TESTDATA.md) that the registry
# operators read: events, documents and embeddings at their sf0.1 row
# counts and value distributions.
EVENTS = 100_000
DOCS = 5000
DUP_DOCS = 250            # an earlier document's text plus " dup"
EMBEDDINGS = 2000
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
T_EVENTS_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
DOC_WORDS = ("spark window merge table column vector stream value data small join filter "
             "big group hash customer sort order slow line part fast row the agg key query "
             "a scan batch").split()


def registry(out, seed):
    r = np.random.default_rng(seed)
    out.mkdir(parents=True)
    ts = np.sort(r.integers(0, 30 * 86400 * 10**6, EVENTS)) + T_EVENTS_US
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, EVENTS)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, EVENTS)], pa.string()),
    }), out / "events.parquet")

    texts = [" ".join(DOC_WORDS[i] for i in r.integers(0, len(DOC_WORDS), r.integers(10, 101)))
             for _ in range(DOCS)]
    for i in sorted(r.choice(np.arange(1, DOCS), DUP_DOCS, replace=False).tolist()):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in r.choice(5, DOCS, p=LANG_WEIGHTS)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    labels = r.integers(0, 10, EMBEDDINGS)
    centers = r.normal(size=(10, 64))
    emb = centers[labels] + r.normal(size=(EMBEDDINGS, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), out / "embeddings.parquet")
