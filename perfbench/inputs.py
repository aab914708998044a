"""Seeded workload inputs and their oracle results.

The rows come from the generator ``bench.py`` uses, ``kgflow.synth``:
the lexicon is ``synth.make_lexicon`` (plus same-as pairs between terms
and two predicate spellings that need normalizing), and every turn is
made as ``synth.transcripts`` makes it (Zipf conversation lengths, dense
turn order, roles, tools, and ``synth._turn_text``: Zipf term skew and
near-miss negatives), with the skews read from ``synth.transcripts``'s
own defaults. Only the uniform draw that picks a turn's conversation
comes from ``random.Random`` in place of Spark's ``xxhash64``, so the
inputs are written in plain Python (pyarrow), in seconds and without a
JVM. As in ``synth.write_transcripts``, the table is 32 files, each
holding whole conversations (a CRC-32 hash of ``conv_id`` picks the
file) sorted by ``(conv_id, turn_idx)``; the files carry no ``bucket``
column, so the ledger of ``plans/checkpoint`` buckets them itself. The
*delta* input is the base input with new text in every 16th
conversation (1/16 of them; keys unchanged).

The expected triples come from ``kgflow.reference_oracle``, which
re-derives them with dict scans and a union-find, no Spark. Inputs are
cached per (workload, seed, size, generating sources) under the work
directory and are charged to no metric.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import multiprocessing
import os
import random
import shutil
import zlib
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgflow import schemas, synth

FILES = 32
# conv-N with N % CHANGE_EVERY == CHANGE_EVERY - 1 changes in the delta input
CHANGE_EVERY = 16
# the text seed of the delta input's changed conversations
DELTA_SEED_OFFSET = 1 << 20
# input sets kept in the cache, most recently used first
KEEP_INPUTS = 24
# processes that write the input files and run the oracle
GEN_PROCESSES = 4
# files whose change changes the inputs or the oracle (keys the cache)
SOURCES = ("perfbench/inputs.py", "kgflow/synth.py", "kgflow/schemas.py", "kgflow/reference_oracle.py")

_SYNTH = inspect.signature(synth.transcripts).parameters
ZIPF_S = _SYNTH["zipf_s"].default
CONV_SKEW = _SYNTH["conv_skew"].default

WORKLOADS = {
    # flagship one-shot job: greedy matcher (300-term lexicon, < 5,000 surfaces)
    "kg_batch": {"turns": 20_000, "terms": 300},
    # ledger job: Aho-Corasick matcher (> 5,000 surfaces), large broadcast dicts
    "kg_resume": {"turns": 6_000, "terms": 3_500},
}

# spellings the isa loader must normalize (space and colon -> "_")
_SPELLINGS = {"regulates": "negatively regulates", "part_of": "has:part"}
_T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

TRIPLE_SCHEMA = pa.schema([("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string())])
NODE_SCHEMA = pa.schema([("id", pa.string()), ("label", pa.string()), ("resolved", pa.bool_())])


def _arrow(struct) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


def make_lexicon(n_terms: int, seed: int):
    """(terms, isa edges) pandas frames: ``synth.make_lexicon`` with
    every eleventh term naming its predecessor as an alt id, so the
    same-as graph merges term pairs and canonicalization rewrites real
    mentions, and every other edge of two predicates spelled the way
    ``_SPELLINGS`` says."""
    terms, edges = synth.make_lexicon(n_terms, seed=seed)
    terms["alt_ids"] = [
        alt + [f"KG:{i - 1:07d}"] if i % 11 == 3 else alt for i, alt in enumerate(terms["alt_ids"])
    ]
    edges["predicate"] = [_SPELLINGS.get(p, p) if i % 2 else p for i, p in enumerate(edges["predicate"])]
    return terms, edges


def assign_turns(n_turns: int, seed: int) -> dict[int, list[tuple[int, str, int]]]:
    """{file: [(turn id, conv_id, turn_idx), ...]}, the conversation
    assignment of ``synth.transcripts``: ``n_turns / 20`` conversations,
    ``conv = floor(C * u**CONV_SKEW)``, ``turn_idx`` dense in id order."""
    n_convs = max(n_turns // 20, 1)
    rng = random.Random(seed)
    next_idx: dict[int, int] = {}
    out: dict[int, list[tuple[int, str, int]]] = {}
    for rid in range(n_turns):
        conv = min(int(n_convs * rng.random() ** CONV_SKEW), n_convs - 1)
        idx = next_idx.get(conv, 0)
        next_idx[conv] = idx + 1
        conv_id = f"conv-{conv:06d}"
        out.setdefault(zlib.crc32(conv_id.encode()) % FILES, []).append((rid, conv_id, idx))
    return out


def changed(conv_id: str) -> bool:
    """Whether the conversation has new text in the delta input."""
    return int(conv_id.split("-")[1]) % CHANGE_EVERY == CHANGE_EVERY - 1


def file_table(rows: list[tuple[int, str, int]], surfaces: list[str], seed: int, delta: bool) -> pa.Table:
    """One file's transcript rows, made per turn as
    ``synth.transcripts`` makes them, sorted by (conv_id, turn_idx);
    with ``delta`` the changed conversations get another text seed."""
    cols: dict[str, list] = {n: [] for n in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for rid, conv_id, idx in sorted(rows, key=lambda r: (r[1], r[2])):
        text_seed = seed + DELTA_SEED_OFFSET if delta and changed(conv_id) else seed
        rng = random.Random((text_seed << 32) ^ rid)
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(idx)
        cols["role"].append(synth._ROLES[idx % 3])
        cols["tool"].append(synth._TOOLS[rng.randrange(len(synth._TOOLS))] if idx % 3 == 2 else None)
        cols["text"].append(synth._turn_text(rng, surfaces, ZIPF_S))
        cols["ts"].append(_T0 + timedelta(seconds=rid))
    return pa.table(cols, schema=_arrow(schemas.TRANSCRIPT))


def _make_files(args) -> dict[str, set]:
    """Write a set of files of the base and delta inputs; return the
    oracle triples of their unchanged conversations (``kept``) and of
    their changed ones in each input. Every transcript triple family is
    a function of one conversation (co-occurrence pairs form a set, so
    unions are exact), so the union over disjoint sets of conversations
    equals the oracle over the whole table."""
    from kgflow import reference_oracle

    out, assigned, terms, edges, seed = args
    surfaces = [s for name, syns in zip(terms["name"], terms["synonyms"]) for s in [name, *syns]]
    parts: dict[str, list] = {"kept": [], "base": [], "delta": []}
    for f, rows in assigned.items():
        for name in ("base", "delta"):
            table = file_table(rows, surfaces, seed, delta=name == "delta")
            pq.write_table(table, os.path.join(out, name, f"part-{f:05d}.parquet"))
            pdf = table.to_pandas()
            is_changed = pdf["conv_id"].map(changed)
            parts[name].append(pdf[is_changed])
            if name == "base":
                parts["kept"].append(pdf[~is_changed])
    return {
        name: reference_oracle.expected_triples(pd.concat(frames), terms, edges) if frames else set()
        for name, frames in parts.items()
    }


def generate(out: str, workload: str, seed: int) -> None:
    """Write the inputs of ``workload`` for ``seed`` under ``out``::

        terms/, isa/                          lexicon parquet
        base/part-000FF.parquet               one file per conv_id hash
        delta/part-000FF.parquet              base, changed conversations rewritten
        oracle/{base,delta}_{triples,nodes}/  expected tables
        meta.json
    """
    spec = WORKLOADS[workload]
    terms, edges = make_lexicon(spec["terms"], seed)
    for name, frame, struct in (("terms", terms, schemas.LEXICON_TERM), ("isa", edges, schemas.LEXICON_ISA_EDGE)):
        os.makedirs(os.path.join(out, name))
        table = pa.Table.from_pandas(frame, schema=_arrow(struct), preserve_index=False)
        pq.write_table(table, os.path.join(out, name, "part-00000.parquet"))

    assigned = assign_turns(spec["turns"], seed)
    for name in ("base", "delta"):
        os.makedirs(os.path.join(out, name))
    chunks = [
        (out, {f: rows for f, rows in assigned.items() if f % GEN_PROCESSES == k}, terms, edges, seed)
        for k in range(GEN_PROCESSES)
    ]
    with multiprocessing.get_context("spawn").Pool(min(GEN_PROCESSES, os.cpu_count() or 1)) as pool:
        results = pool.map(_make_files, chunks, chunksize=1)
    kept = set().union(*(r["kept"] for r in results))
    for name in ("base", "delta"):
        write_oracle(os.path.join(out, "oracle"), name, kept.union(*(r[name] for r in results)), terms)
    convs = sorted({conv_id for rows in assigned.values() for _, conv_id, _ in rows})
    meta = {"workload": workload, "seed": seed, **spec, "changed_convs": [c for c in convs if changed(c)]}
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def write_oracle(root: str, name: str, triples: set, terms) -> None:
    """``<name>_triples`` and ``<name>_nodes``, the latter with
    ``plans/pipeline.build_nodes`` semantics: every endpoint, labelled
    by prefix; a Term is resolved only when the lexicon has its id."""
    known = set(terms["term_id"])
    nodes = []
    for i in {s for s, _, _ in triples} | {o for _, _, o in triples}:
        label = "Turn" if i.startswith("turn:") else "Conversation" if i.startswith("conv:") else "Term"
        nodes.append((i, label, label != "Term" or i in known))
    write_rows(os.path.join(root, f"{name}_triples"), triples, TRIPLE_SCHEMA)
    write_rows(os.path.join(root, f"{name}_nodes"), nodes, NODE_SCHEMA)


def write_rows(path: str, rows, schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) or [()] * len(schema.names)
    table = pa.table(dict(zip(schema.names, map(list, cols))), schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------
def input_dir(root: str, work_dir: str, workload: str, seed: int) -> str:
    """The cache directory of one input set, keyed by workload, seed,
    size and the sources that make it."""
    spec = WORKLOADS[workload]
    digest = hashlib.sha256()
    for rel in SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            digest.update(rel.encode() + b"\0" + fh.read())
    key = f"{workload}-s{seed}-t{spec['turns']}-l{spec['terms']}-{digest.hexdigest()[:12]}"
    return os.path.join(work_dir, "inputs", key)


def ensure_inputs(root: str, work_dir: str, workload: str, seed: int) -> str:
    """Generate (once) the inputs of ``workload`` for ``seed``; returns
    their directory."""
    path = input_dir(root, work_dir, workload, seed)
    if os.path.exists(os.path.join(path, "meta.json")):
        os.utime(path)
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, workload, seed)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    prune(os.path.dirname(path))
    return path


def prune(inputs_root: str) -> None:
    """Keep the ``KEEP_INPUTS`` most recently used input sets."""
    dirs = [os.path.join(inputs_root, d) for d in os.listdir(inputs_root) if not d.endswith(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)
