"""Seeded input generators, one per workload.

Every generator is a pure function of its arguments: the same seed and
sizes give byte-identical inputs.  Each workload draws from its own
numpy stream (``default_rng([seed, tag])``) so resizing one workload
never shifts another's inputs.  The program under test only ever sees
the files these functions produce.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_SNAPSHOT, _CHANGELOG, _DOCS = 1, 2, 3

# --- snapshot_backup ----------------------------------------------------

SNAPSHOT_PK = ["k1", "k2"]
_K2_FANOUT = 8


def snapshot_table(seed: int, n_rows: int) -> pa.Table:
    """A table with a composite (k1, k2) primary key and mixed
    int/decimal/string/date value columns, some NULL, stored in
    seeded-shuffled key order so the snapshot's key sort does real work."""
    rng = np.random.default_rng([seed, _SNAPSHOT])
    order = rng.permutation(n_rows)
    cents = rng.integers(-10**9, 10**9, n_rows, dtype=np.int64)
    # decimal128 storage: 16-byte little-endian two's complement
    words = np.empty((n_rows, 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = cents >> 63
    amount = pa.Array.from_buffers(pa.decimal128(12, 2), n_rows,
                                   [None, pa.py_buffer(words.tobytes())])
    names = np.array([f"name-{j:04d}" for j in range(1000)], dtype=object)
    name = names[rng.integers(0, 1000, n_rows)]
    day = rng.integers(17000, 20000, n_rows).astype("int32")
    qty = rng.integers(0, 10_000, n_rows).astype("int32")
    return pa.table({
        "k1": pa.array((order // _K2_FANOUT).astype("int32")),
        "k2": pa.array((order % _K2_FANOUT).astype("int32")),
        "amount": amount,
        "name": pa.array(name, pa.string(), mask=rng.random(n_rows) < 0.05),
        "day": pa.array(day, pa.int32(), mask=rng.random(n_rows) < 0.03)
                 .cast(pa.date32()),
        "qty": pa.array(qty, pa.int32(), mask=rng.random(n_rows) < 0.10),
    })


# --- changelog_tail -----------------------------------------------------

FEED_PK = ["pk"]
HOT_KEY_SHARE = 0.01   # ~1% of keys ...
HOT_EVENT_SHARE = 0.5  # ... receive ~half of the events
DELETE_SHARE = 0.10    # logical deletes; the rest are updates
NEW_KEY_SHARE = 0.02   # inserts of keys absent from the snapshot
REDELIVER_SHARE = 0.02  # events of batch i-1 delivered again in batch i


def changelog_state(seed: int, n_keys: int) -> pa.Table:
    """The source table whose snapshot seeds the latest-state store."""
    rng = np.random.default_rng([seed, _CHANGELOG, 0])
    pk = rng.permutation(n_keys).astype("int64")
    n = rng.integers(0, 1_000_000, n_keys, dtype=np.int64)
    return pa.table({"pk": pk,
                     "val": pa.array([f"s{x}" for x in n], pa.string()),
                     "n": n})


def _event_json(pk: int, op: str, seqno: int, n: int | None) -> str:
    if op == "delete":
        return (f'{{"pk":{pk},"val":null,"n":null,"op":"delete",'
                f'"seqno":{seqno}}}')
    return (f'{{"pk":{pk},"val":"v{n}","n":{n},"op":"insert",'
            f'"seqno":{seqno}}}')


def changelog_batches(seed: int, n_keys: int, batch_events: int,
                      n_batches: int) -> list[list[str]]:
    """Newline-JSON changelog batches over the ``changelog_state`` keys.

    Each logical change picks a hot key with probability
    ``HOT_EVENT_SHARE``, else a uniform key (a small share of them new).
    ``DELETE_SHARE`` of the changes are deletes; the rest are updates,
    emitted as delete+insert pairs with consecutive seqnos, the shape a
    binlog reader produces.  Batch i also re-delivers a
    ``REDELIVER_SHARE`` sample of batch i-1 (at-least-once replay).
    Batch i depends only on (seed, i), so a shorter run lands a prefix
    of the same sequence."""
    hot = max(1, int(n_keys * HOT_KEY_SHARE))
    batches: list[list[str]] = []
    seqno = 0
    prev: list[str] = []
    for i in range(n_batches):
        rng = np.random.default_rng([seed, _CHANGELOG, 1, i])
        redeliver = int(batch_events * REDELIVER_SHARE) if prev else 0
        m = (batch_events - redeliver) * 10 // 19  # ~1.9 events per change
        is_hot = rng.random(m) < HOT_EVENT_SHARE
        span = int(n_keys * (1 + NEW_KEY_SHARE))
        keys = np.where(is_hot, rng.integers(0, hot, m),
                        rng.integers(0, span, m))
        is_del = rng.random(m) < DELETE_SHARE
        vals = rng.integers(0, 1_000_000, m)
        lines: list[str] = []
        for k, d, v in zip(keys.tolist(), is_del.tolist(), vals.tolist()):
            if not d:
                lines.append(_event_json(k, "delete", seqno, None))
                seqno += 1
            lines.append(_event_json(k, "delete" if d else "insert",
                                     seqno, v))
            seqno += 1
        if redeliver:
            pick = rng.choice(len(prev), size=redeliver, replace=False)
            lines.extend(prev[j] for j in sorted(pick.tolist()))
        batches.append(lines)
        prev = lines
    # seqnos are global and increasing across batches
    return batches


# --- dedup_curation -----------------------------------------------------

LANGS = ["en", "de", "fr", "es"]
SOURCES = ["web", "books", "news"]
HOT_BLOCK = ("en", "web")
_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "za",
        "bo", "du", "fe", "gi", "ha", "ju"]


def _vocab(size: int) -> list[str]:
    out = []
    for j in range(size):
        w, x = "", j + 16
        while x:
            w += _SYL[x % 16]
            x //= 16
        out.append(w)
    return out


def documents(seed: int, n_docs: int, hot_docs: int) -> pa.Table:
    """A ``documents`` table with the fixture's schema (doc_id, text,
    lang, source, n_chars).

    - Words follow a Zipf law over a 6000-word vocabulary.
    - ~10% of documents are near-duplicates (a few words changed) or
      exact copies of an earlier document in the same (lang, source)
      block, forming small clusters.
    - ``hot_docs`` documents of one block carry the same boilerplate
      passage, so its shingles form baskets larger than the pair
      guard's default cap and both guard paths run.
    - ~1% are shorter than one shingle.
    """
    rng = np.random.default_rng([seed, _DOCS])
    vocab = np.array(_vocab(6000), dtype=object)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    vocab = vocab[rng.permutation(len(vocab))]
    boiler = list(vocab[rng.integers(2000, 6000, 3)])
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        r = rng.random()
        # near-duplicate (r < 0.08) or exact copy (r > 0.98) of an
        # earlier document of the same block
        lo = 0 if i < hot_docs else hot_docs
        if i - lo > 10 and (r < 0.08 or r > 0.98):
            j = int(rng.integers(max(lo, i - 200), i))
            words = texts[j].split(" ")
            if r < 0.08:
                for _ in range(int(rng.integers(1, 4))):
                    words[int(rng.integers(0, len(words)))] = \
                        vocab[rng.choice(len(vocab), p=p)]
            texts.append(" ".join(words))
            langs.append(langs[j])
            sources.append(sources[j])
            continue
        if i < hot_docs:
            lang, src = HOT_BLOCK
        else:
            lang = LANGS[rng.integers(0, len(LANGS))]
            src = SOURCES[rng.integers(0, len(SOURCES))]
        n = 2 if r < 0.09 and i >= hot_docs else int(rng.integers(20, 45))
        words = list(vocab[rng.choice(len(vocab), size=n, p=p)])
        if i < hot_docs:
            at = int(rng.integers(0, len(words)))
            words[at:at] = boiler
        words[0] = words[0].capitalize()
        texts.append(" ".join(words) + ".")
        langs.append(lang)
        sources.append(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

