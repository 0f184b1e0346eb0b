"""Seeded input generator for the benchmark harness.

Writes one workload's input tables under an output directory and a
``manifest.json`` that records the workload's size, mix, duplicate share and
the reason it exists. The measured program only ever reads these tables; the
same ``--seed`` always produces byte-identical tables.

    python3 perfbench/gen.py --workload extract_batch --seed 1 --out DIR
"""

import argparse
import collections
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

LAYOUT_MODES = {"prompt_layout_all_en", "prompt_layout_only_en",
                "prompt_grounding_ocr"}

WHY = {
    "extract_batch":
        "per-turn json/clean/render/geom layers do almost all the work and "
        "nothing is written; carries headline turns/s and 1->4 scaling",
    "extract_incremental":
        "checkpointed path: anti-join, appends, lineage and snapshot commits "
        "dominate while the per-turn layers do a small share",
    "dedup_corpus":
        "ops and streaming dedup layers do all the work and the extraction "
        "layers none; batch and incremental use the same trunk",
}

# extract_batch: a stratified sample of the bench mix, this share of it.
BATCH_SHARE = 0.5
# extract_incremental: conversations of transcripts_t2 split into K parts.
INCR_K = 2
# dedup_corpus: base documents, planted exact copies and near-duplicates
# (shares of the base count), and the number of stream appends.
DEDUP_BASE = 1200
DEDUP_EXACT_SHARE = 0.05
DEDUP_NEAR_SHARE = 0.10
DEDUP_STREAM_BATCHES = 2
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join customer vector the index shard page token cache "
         "node graph label state tree edge").split()


def write_table(rows, schema, path, row_group_size):
    table = pa.Table.from_pylist(rows, schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")
    return table.num_rows


TURN_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                         ("role", pa.string()), ("text", pa.string()),
                         ("tool", pa.string())])


def read_turns(path):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return pq.read_table(path, columns=cols).to_pylist()


def mix_of(turns):
    n = len(turns)
    tools = collections.Counter(t["tool"] for t in turns)
    big = sum(1 for t in turns if t["text"] is not None and len(t["text"]) > 10000)
    convs = collections.Counter(t["conv_id"] for t in turns)
    return {
        "turns": n,
        "conversations": len(convs),
        "largest_conversations": sorted(convs.values(), reverse=True)[:3],
        "tool_share": {k: round(v / n, 4) for k, v in sorted(tools.items())},
        "layout_share": round(sum(v for k, v in tools.items()
                                  if k in LAYOUT_MODES) / n, 4),
        "over_10kb_share": round(big / n, 4),
    }


def gen_extract_batch(repo, seed, out):
    """A stratified, seeded sample of the bench mix under fresh conv_ids.

    Strata are (tool, log2 of text length): every seed keeps the same count
    from each stratum, so the mix and the payload-size profile stay fixed
    and only which turns are drawn varies.
    """
    rng = random.Random(seed)
    turns = read_turns(os.path.join(repo, "data", "transcripts_bench"))
    strata = collections.defaultdict(list)
    for i, t in enumerate(turns):
        n = len(t["text"]) if t["text"] is not None else 0
        strata[(t["tool"], n.bit_length())].append(i)
    keep = []
    for key in sorted(strata):
        idx = strata[key]
        keep.extend(rng.sample(idx, int(round(len(idx) * BATCH_SHARE))))
    keep.sort()
    tag = "~s%d" % seed
    rows = [dict(turns[i], conv_id=turns[i]["conv_id"] + tag) for i in keep]
    write_table(rows, TURN_SCHEMA,
                os.path.join(out, "turns", "part-00000.parquet"), 1000)
    return {"tables": {"turns": "turns"}, "mix": mix_of(rows),
            "sample_share_of_bench_mix": BATCH_SHARE}


def gen_extract_incremental(repo, seed, out):
    """Conversations of transcripts_t2 split into K seeded increments.

    ``cum_k`` holds increments 0..k, so run k of the checkpointed pipeline
    sees the whole table so far and its resume anti-join skips what earlier
    runs already wrote.
    """
    rng = random.Random(seed)
    turns = read_turns(os.path.join(repo, "data", "transcripts_t2"))
    convs = sorted({t["conv_id"] for t in turns})
    rng.shuffle(convs)
    part_of = {c: i % INCR_K for i, c in enumerate(convs)}
    parts = [[t for t in turns if part_of[t["conv_id"]] == k]
             for k in range(INCR_K)]
    for k in range(INCR_K):
        for j in range(k + 1):
            write_table(parts[j], TURN_SCHEMA,
                        os.path.join(out, "cum_%d" % k,
                                     "part-%05d.parquet" % j), 1000)
    return {"tables": {"cum_%d" % k: "cum_%d" % k for k in range(INCR_K)},
            "increments": INCR_K,
            "increment_turns": [len(p) for p in parts],
            "error_injection": "pmod(xxhash64(conv_id, turn_idx, seed), 9) = 0",
            "mix": mix_of(turns)}


def edit_words(rng, words, share):
    out = list(words)
    n = max(1, int(round(len(out) * share)))
    for i in rng.sample(range(len(out)), n):
        out[i] = rng.choice(VOCAB)
    return out


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("source", pa.string())])


def gen_dedup_corpus(repo, seed, out):
    """Random-word documents (~300 chars) with planted duplicates.

    Exact copies repeat a base text byte for byte; near-duplicates replace
    5% of a base document's words. Doc ids are shuffled so duplicates are
    spread over the id range and over the stream batches.
    """
    rng = random.Random(seed)
    texts = []
    for _ in range(DEDUP_BASE):
        n = rng.randint(20, 80)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
    n_exact = int(DEDUP_BASE * DEDUP_EXACT_SHARE)
    n_near = int(DEDUP_BASE * DEDUP_NEAR_SHARE)
    sources = rng.sample(range(DEDUP_BASE), n_exact + n_near)
    for i in sources[:n_exact]:
        texts.append(texts[i])
    for i in sources[n_exact:]:
        texts.append(" ".join(edit_words(rng, texts[i].split(), 0.05)))
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [{"doc_id": ids[i], "text": t, "source": "src%d" % (ids[i] % 7)}
            for i, t in enumerate(texts)]
    rows.sort(key=lambda r: r["doc_id"])
    write_table(rows, DOC_SCHEMA,
                os.path.join(out, "docs", "part-00000.parquet"), 500)
    # stream appends: contiguous doc_id ranges, oldest first
    per = int(math.ceil(len(rows) / DEDUP_STREAM_BATCHES))
    for b in range(DEDUP_STREAM_BATCHES):
        write_table(rows[b * per:(b + 1) * per], DOC_SCHEMA,
                    os.path.join(out, "stream", "b%d" % b,
                                 "part-00000.parquet"), 500)
    return {"tables": {"docs": "docs", "stream": "stream"},
            "docs": len(rows), "base_docs": DEDUP_BASE,
            "exact_copies": n_exact, "near_duplicates": n_near,
            "duplicate_share": round((n_exact + n_near) / len(rows), 4),
            "near_duplicate_word_edit_share": 0.05,
            "stream_batches": DEDUP_STREAM_BATCHES,
            "mean_chars": round(sum(len(t) for t in texts) / len(texts), 1)}


GENERATORS = {
    "extract_batch": gen_extract_batch,
    "extract_incremental": gen_extract_incremental,
    "dedup_corpus": gen_dedup_corpus,
}


def generate(repo, workload, seed, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](repo, seed, out)
    manifest.update({"workload": workload, "seed": seed,
                     "why": WHY[workload]})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    a = ap.parse_args()
    json.dump(generate(a.repo, a.workload, a.seed, a.out), sys.stdout,
              indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
