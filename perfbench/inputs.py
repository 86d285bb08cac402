"""Seeded benchmark inputs, generated outside every timed region.

Transcript inputs are drawn from one cached *pool*: the repository's
fixture corpus (``fixtures.generate_transcripts``) at a fixed seed, with
every turn's ``kernel.oracle`` result digested once. A workload seed then
picks conversations from the pool in a seeded order until a fixed turn
count is reached (the last conversation is cut to fit), so every seed
runs the same amount of work while the conversations and the row order
change with the seed; ``extract_job`` also re-keys the conversations, so
their hash buckets and salts move with it.

Each generated input is cached under ``(workload, seed, size)``; the pool
is cached under its own size. Both live in the checkout's build
directory, never in the source tree.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL_CONVS = 3000
POOL_SEED = 7

# Turns per extract_job input, base documents per curation_chain input.
EXTRACT_TURNS = 40_000
CHAIN_DOCS = 5_000
# curation_chain plants: this share of documents gets an edited copy; one
# document gets IDENTICAL_COPIES byte-identical copies -- more than
# minhash_lsh_pairs' 64-member bucket cap; and one long document starts a
# CHAIN_LENGTH-long chain of copies, each an edit of the one before. A copy
# stays a near-duplicate of only the next three or four, so the cluster the
# chain forms is ~CHAIN_LENGTH/4 hops across. That depth, not the seed's natural
# near-duplicates, sets how many rounds duplicate_clusters runs, so every
# seed does the same number of them.
EDITED_SHARE = 0.05
IDENTICAL_COPIES = 200
CHAIN_LENGTH = 80
JACCARD_THRESHOLD = 0.5
SHINGLE_N = 3

# Tokens an edit writes; none of them occurs in the fixture vocabulary.
_EDIT_WORDS = (
    "aurora basalt cobalt dune ember fjord glacier harbor island jungle "
    "kelp lagoon mesa nebula oasis prairie quartz reef savanna tundra"
).split()

_ORACLE_COLS = ("payload_kind", "classification", "boundary", "confidence", "digest")


def turn_digest(text, spans, classification, boundary, confidence, kind) -> str:
    """Digest of one turn's full extraction result.

    ``spans`` is a sequence of ``(start, end, kind, conf)``; floats enter by
    ``repr``, so equal digests mean byte-equal text and bit-equal floats.
    """
    h = hashlib.sha1()
    h.update(
        repr(
            (text, [tuple(s) for s in spans], classification, boundary, confidence, kind)
        ).encode()
    )
    return h.hexdigest()


def shingle_set(text: str | None, n: int = SHINGLE_N) -> set:
    """Distinct word n-grams of lowercased, whitespace-split text; a text
    shorter than ``n`` tokens is one shingle (``operators.dedup`` semantics)."""
    toks = (text or "").lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0


def _write_atomic(table: pa.Table, path: str, **kw) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", **kw)
    os.replace(tmp, path)


def pool(cache_dir: str) -> pa.Table:
    """The transcript pool with per-turn oracle columns (built once)."""
    path = os.path.join(cache_dir, f"pool-{POOL_CONVS}-{POOL_SEED}.parquet")
    if not os.path.exists(path):
        from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
            generate_transcripts,
        )
        from accelerated_intelligent_document_processing_on_aws_spark.kernel.oracle import (
            extract_turn_raw,
        )

        rows = generate_transcripts(POOL_CONVS, seed=POOL_SEED)
        rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
        for r in rows:
            text, spans, cls, bnd, conf, kind = extract_turn_raw(
                r["text"], r["role"], r["tool"]
            )
            r.update(
                payload_kind=kind,
                classification=cls,
                boundary=bnd,
                confidence=conf,
                digest=turn_digest(text, spans, cls, bnd, conf, kind),
            )
        schema = pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us", tz="UTC")),
                ("payload_kind", pa.string()),
                ("classification", pa.string()),
                ("boundary", pa.string()),
                ("confidence", pa.float64()),
                ("digest", pa.string()),
            ]
        )
        os.makedirs(cache_dir, exist_ok=True)
        _write_atomic(
            pa.Table.from_pydict({k: [r[k] for r in rows] for k in schema.names}, schema),
            path,
        )
    return pq.read_table(path)


def _pick_turns(table: pa.Table, rng: random.Random, n_turns: int) -> pa.Table:
    """Whole conversations in seeded order until ``n_turns``; the last one
    keeps only its first turns so the total is exact."""
    counts = table.group_by("conv_id").aggregate([("turn_idx", "count")])
    lengths = dict(
        zip(counts["conv_id"].to_pylist(), counts["turn_idx_count"].to_pylist())
    )
    order = sorted(lengths)
    rng.shuffle(order)
    keep: dict[str, int] = {}
    total = 0
    for conv in order:
        take = min(lengths[conv], n_turns - total)
        keep[conv] = take
        total += take
        if total == n_turns:
            break
    else:
        raise ValueError(f"pool holds fewer than {n_turns} turns")
    limit = pc.index_in(table["conv_id"], pa.array(list(keep)))
    limits = np.array(list(keep.values()), dtype=np.int64)
    idx = limit.to_numpy(zero_copy_only=False)
    mask = ~np.isnan(idx.astype(float))
    sel = np.zeros(len(table), dtype=bool)
    pos = idx[mask].astype(np.int64)
    sel[mask] = table["turn_idx"].to_numpy()[mask] < limits[pos]
    return table.filter(pa.array(sel))


def extract_job_input(cache_dir: str, seed: int) -> dict:
    """``transcripts.parquet`` (the program's only input) and
    ``expected.parquet`` (per-turn oracle columns, for the checks)."""
    d = os.path.join(cache_dir, f"extract_job-seed{seed}-{EXTRACT_TURNS}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t = _pick_turns(pool(cache_dir), random.Random(f"extract_job:{seed}"), EXTRACT_TURNS)
        # re-key conversations so the hash buckets and salts move with the seed
        t = t.set_column(
            0, "conv_id", pc.binary_join_element_wise(t["conv_id"], f"s{seed}", "-")
        )
        perm = np.random.default_rng(seed).permutation(len(t))
        t = t.take(pa.array(perm))
        _write_atomic(
            t.select(["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
            os.path.join(d, "transcripts.parquet"),
            row_group_size=8192,
        )
        _write_atomic(
            t.select(["conv_id", "turn_idx", *_ORACLE_COLS]),
            os.path.join(d, "expected.parquet"),
        )
        open(os.path.join(d, "done"), "w").close()
    return {
        "input": os.path.join(d, "transcripts.parquet"),
        "expected": os.path.join(d, "expected.parquet"),
        "turns": EXTRACT_TURNS,
    }


def _edited_copy(text: str, rng: random.Random) -> str:
    toks = text.split()
    for _ in range(max(1, len(toks) // 25)):
        toks[rng.randrange(len(toks))] = rng.choice(_EDIT_WORDS)
    return " ".join(toks)


def curation_chain_input(cache_dir: str, seed: int) -> dict:
    """``docs.parquet`` (doc_id, text) with planted near-duplicates, and
    ``planted.json``: the planted (source, copy) pairs."""
    d = os.path.join(cache_dir, f"curation_chain-seed{seed}-{CHAIN_DOCS}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = random.Random(f"curation_chain:{seed}")
        t = _pick_turns(pool(cache_dir), rng, CHAIN_DOCS)
        ids = [
            f"{c}#{i}" for c, i in zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist())
        ]
        texts = t["text"].to_pylist()
        planted: list[list[str]] = []
        out_ids, out_texts = list(ids), list(texts)
        n_edited = round(EDITED_SHARE * len(ids))
        for k in rng.sample(range(len(ids)), len(ids)):
            if len(planted) == n_edited:
                break
            if len(texts[k].split()) < 8:
                continue
            copy = _edited_copy(texts[k], rng)
            # plant only true near-duplicates of the chain's threshold
            if jaccard(shingle_set(texts[k]), shingle_set(copy)) < JACCARD_THRESHOLD:
                continue
            planted.append([ids[k], ids[k] + "~e"])
            out_ids.append(ids[k] + "~e")
            out_texts.append(copy)
        src = rng.choice([k for k in range(len(ids)) if len(texts[k].split()) >= 20])
        for c in range(1, IDENTICAL_COPIES):
            planted.append([ids[src], f"{ids[src]}~x{c:03d}"])
            out_ids.append(f"{ids[src]}~x{c:03d}")
            out_texts.append(texts[src])
        src = rng.choice([k for k in range(len(ids)) if len(texts[k].split()) >= 100])
        prev_id, prev_text = ids[src], texts[src]
        for c in range(1, CHAIN_LENGTH):
            copy = _edited_copy(prev_text, rng)
            planted.append([prev_id, f"{ids[src]}~c{c:02d}"])
            prev_id, prev_text = planted[-1][1], copy
            out_ids.append(prev_id)
            out_texts.append(copy)
        perm = np.random.default_rng(seed).permutation(len(out_ids))
        docs = pa.table(
            {
                "doc_id": pa.array([out_ids[i] for i in perm], pa.string()),
                "text": pa.array([out_texts[i] for i in perm], pa.string()),
            }
        )
        _write_atomic(docs, os.path.join(d, "docs.parquet"), row_group_size=8192)
        with open(os.path.join(d, "planted.json"), "w") as f:
            json.dump(planted, f)
        open(os.path.join(d, "done"), "w").close()
    with open(os.path.join(d, "planted.json")) as f:
        planted = json.load(f)
    return {
        "input": os.path.join(d, "docs.parquet"),
        "planted": planted,
        "turns": CHAIN_DOCS + len(planted),
    }
