"""Untimed correctness gates, run after the Spark process has ended.

Each gate reads the outputs a run committed and checks them against an
oracle that shares no code path with the Spark plans: the cached
``kernel.oracle`` digests, ``sections_oracle``, and set Jaccard,
union-find and md5 in plain Python. Each returns ``(attempted, failed,
extra)``; ``failed`` counts the failed or wrong operations among those
``attempted``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from inputs import JACCARD_THRESHOLD, jaccard, shingle_set, turn_digest


def _read(path: str):
    return pq.read_table(path).to_pylist()


def extract_job(spec: dict, reps: list[dict]) -> tuple[int, int, dict]:
    """Operations are turns. A turn fails when its extraction is not
    byte-equal to ``kernel.oracle``, when it is missing or duplicated,
    or when its conversation's sections differ from ``sections_oracle``.
    A rep whose resume was not a no-op fails all its turns."""
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.oracle import (
        sections_oracle,
    )

    expected = {(r["conv_id"], r["turn_idx"]): r for r in _read(spec["expected"])}
    by_conv = defaultdict(list)
    for r in expected.values():
        by_conv[r["conv_id"]].append(r)
    want_sections = {}
    for conv, turns in by_conv.items():
        secs = sections_oracle(turns)
        conf = {t["turn_idx"]: t["confidence"] for t in turns}
        want_sections[conv] = [
            (s["section_id"], s["classification"], s["turn_idxs"],
             statistics.fmean(conf[i] for i in s["turn_idxs"]))
            for s in secs
        ]
    attempted = failed = 0
    for rep in reps:
        out = rep["out"]
        bad: set = set()
        seen = Counter()
        for r in _read(out + "/extracted"):
            key = (r["conv_id"], r["turn_idx"])
            seen[key] += 1
            spans = [(s["start"], s["end"], s["kind"], s["conf"]) for s in r["spans"]]
            digest = turn_digest(
                r["extracted_text"], spans, r["classification"], r["boundary"],
                r["confidence"], r["payload_kind"],
            )
            if key not in expected or expected[key]["digest"] != digest:
                bad.add(key)
        bad.update(k for k in expected if seen[k] != 1)
        got_sections = defaultdict(list)
        for s in _read(out + "/sections"):
            got_sections[s["conv_id"]].append(s)
        for conv, want in want_sections.items():
            got = sorted(got_sections.get(conv, []), key=lambda s: s["section_id"])
            ok = len(got) == len(want) and all(
                (g["section_id"], g["classification"], g["turn_idxs"]) == w[:3]
                and g["n_turns"] == len(w[2])
                and abs(g["confidence"] - w[3]) <= 5.1e-5
                for g, w in zip(got, want)
            )
            if not ok:
                bad.update((conv, t["turn_idx"]) for t in by_conv[conv])
        with open(os.path.join(out, "_manifest.json")) as f:
            manifest = json.load(f)
        # one wave commits every bucket; the resume must commit nothing more
        one_wave = len(manifest["snapshots"]) == 1
        if manifest["done_buckets"] != list(range(manifest["n_buckets"])) or not one_wave:
            bad.update(expected)
        attempted += len(expected)
        failed += len(bad & expected.keys())
    return attempted, failed, {"dup_recall": 1.0}


def _components(pairs) -> dict:
    """Union-find over pairs: node -> minimum node of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def curation_chain(spec: dict, reps: list[dict]) -> tuple[int, int, dict]:
    """Operations are pairs, clusters, the pass-through of unclustered
    documents and the leakage gate. A pair fails unless ``id_a < id_b``
    and its exact shingle Jaccard is at least the threshold and matches
    the reported one. A cluster fails unless it is exactly a connected
    component of the reported pairs, labelled with its minimum member,
    with exactly one member kept."""
    docs = {r["doc_id"]: r["text"] for r in _read(spec["input"])}
    shingles: dict = {}

    def sh(doc_id):
        if doc_id not in shingles:
            shingles[doc_id] = shingle_set(docs[doc_id])
        return shingles[doc_id]

    groups = defaultdict(set)
    for doc_id, text in docs.items():
        split = int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16) % 10
        groups[hashlib.md5(text.encode()).hexdigest()].add(
            "train" if split < 8 else "valid" if split < 9 else "test"
        )
    want_leaky = {(h, len(s)) for h, s in groups.items() if len(s) > 1}

    attempted = failed = 0
    recalls = []
    for rep in reps:
        out = rep["out"]
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in _read(out + "/pairs")]
        dup = Counter((a, b) for a, b, _ in pairs)
        for a, b, j in pairs:
            exact = jaccard(sh(a), sh(b)) if a in docs and b in docs else -1.0
            ok = a < b and exact >= JACCARD_THRESHOLD and abs(exact - j) <= 1e-6
            failed += not ok or dup[(a, b)] > 1
        attempted += len(pairs)

        root = _components((a, b) for a, b, _ in pairs)
        got = {r["id"]: r["cluster_id"] for r in _read(out + "/clusters")}
        kept = Counter(r["doc_id"] for r in _read(out + "/kept"))
        members = defaultdict(set)
        for x, r in root.items():
            members[r].add(x)
        got_members = defaultdict(set)
        for x, c in got.items():
            got_members[c].add(x)
        for r, ms in members.items():
            ok = got_members.get(r) == ms and sum(kept[m] for m in ms) == 1
            failed += not ok
        # clusters the chain reported that are no component at all
        failed += len(got_members.keys() - members.keys())
        attempted += len(members) + len(got_members.keys() - members.keys())

        unclustered_ok = all(kept[d] == 1 for d in docs if d not in root)
        leaky_ok = {(r["content_hash"], r["n_splits"]) for r in _read(out + "/leaky")} == want_leaky
        attempted += 2
        failed += (not unclustered_ok) + (not leaky_ok)

        planted = spec["planted"]
        found = sum(1 for a, b in planted if a in got and got[a] == got.get(b))
        recalls.append(found / len(planted))
    return attempted, failed, {"dup_recall": statistics.median(recalls)}


CHECKS = {
    "extract_job": extract_job,
    "curation_chain": curation_chain,
}
