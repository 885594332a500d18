"""The generators are pure functions of the seed, and their inputs have
the shapes the workloads rely on."""

import json
import re
from collections import Counter

from perfbench import gen
from perfbench.workloads import SIZES


def test_same_seed_same_inputs():
    for make in (lambda s: gen.snapshot_table(s, 5_000),
                 lambda s: gen.changelog_state(s, 3_000),
                 lambda s: gen.documents(s, 1_100, 1_030)):
        assert make(7).equals(make(7))
        assert not make(7).equals(make(8))
    batches = gen.changelog_batches(7, 3_000, 500, 4)
    assert batches == gen.changelog_batches(7, 3_000, 500, 4)
    assert batches != gen.changelog_batches(8, 3_000, 500, 4)


def test_shorter_run_lands_a_prefix():
    long = gen.changelog_batches(3, 2_000, 300, 6)
    assert gen.changelog_batches(3, 2_000, 300, 4) == long[:4]


def test_snapshot_table_shape():
    t = gen.snapshot_table(1, 4_000)
    keys = list(zip(t["k1"].to_pylist(), t["k2"].to_pylist()))
    assert len(set(keys)) == len(keys)
    assert keys != sorted(keys)  # stored out of key order
    for c in ("name", "day", "qty"):
        assert 0 < t[c].null_count < len(keys)


def test_changelog_batches_shape():
    batches = gen.changelog_batches(5, 10_000, 2_000, 3)
    events = [json.loads(e) for b in batches for e in b]
    seqnos = [e["seqno"] for e in events]
    first = [json.loads(e) for e in batches[0]]
    # updates are delete+insert pairs on one key with consecutive seqnos
    pairs = sum(1 for a, b in zip(first, first[1:])
                if a["op"] == "delete" and b["op"] == "insert"
                and a["pk"] == b["pk"] and b["seqno"] == a["seqno"] + 1)
    assert pairs > 0.4 * len(first)
    deletes = sum(1 for a, b in zip(first, first[1:] + [None])
                  if a["op"] == "delete"
                  and (b is None or b["op"] == "delete" or b["pk"] != a["pk"]))
    assert 0.03 < deletes / len(first) < 0.1
    # batch i re-delivers events of batch i-1 verbatim
    assert set(batches[1]) & set(batches[0])
    assert len(seqnos) > len(set(seqnos))
    # about half the events hit about 1% of the keys
    hot = sum(1 for e in events if e["pk"] < 100)
    assert 0.4 < hot / len(events) < 0.6


def test_documents_shape():
    size = SIZES["dedup_curation"]
    t = gen.documents(2, size["docs"], size["hot_docs"])
    texts = t["text"].to_pylist()
    # the boilerplate shingle's basket in the hot block exceeds the pair
    # guard's cap of 1024 (near-duplicate edits can break a few copies)
    grams = Counter()
    for text, block in zip(texts, zip(t["lang"].to_pylist(),
                                      t["source"].to_pylist())):
        if block == gen.HOT_BLOCK:
            w = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower()))
            w = w.strip().split(" ")
            grams.update({" ".join(w[i:i + 3]) for i in range(len(w) - 2)})
    assert grams.most_common(1)[0][1] > 1_024
    assert len(set(texts)) < len(texts)  # exact copies
    assert any(len(x.split()) < 3 for x in texts)  # sub-shingle documents
    assert t["n_chars"].to_pylist() == [len(x) for x in texts]
