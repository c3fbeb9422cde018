"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload, seed, scale): the corpus comes
from the engine's own deterministic generator (``build_corpus``), and the
stream input stages it as parquet files in arrival order, adding bridge
turns that tie together entities from earlier files.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Dict, List

# Each workload is one corpus run through the batch ER pipeline. A traced run
# also stages the same corpus as ``stream_files`` parquet files, adds bridge
# turns to every later file, and delivers the files one per operation to the
# foreachBatch incremental-clustering bridge.
WORKLOADS: Dict[str, dict] = {
    "er_synth": {
        "dictionary": "synthetic",
        "n_convs": 330,
        "n_turns": 3300,
        "n_entities": 300,
        "hard_every": None,
        "stream_files": 2,
        # share of each later file's turns that are bridge turns naming two
        # entities first seen in earlier files: each one merges two existing
        # clusters, so the stream's remap path (bucket delete + re-append) runs
        "bridge_fraction": 0.02,
    },
    "er_hard": {
        "dictionary": "sample",
        "n_convs": 220,
        "n_turns": 2400,
        "n_entities": 0,
        "hard_every": 4,
        "stream_files": 2,
        "bridge_fraction": 0.02,
    },
}

STREAM_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@dataclass
class Corpus:
    transcripts: object  # DataFrame with ground-truth side columns, checkpointed
    model: object
    n_turns: int


@dataclass
class StagedStream:
    """Staged input files, one per stream operation, and the directory the
    stream reads; ``deliver(i)`` makes file i visible to the stream."""

    source_dir: str
    files: List[str]
    turns: List[int]  # turns per file
    bridges: List[int]  # bridge turns per file
    texts: List[List[tuple]]  # per file: (turn_key, text)

    def deliver(self, i: int) -> None:
        # copy under a hidden name, then rename: the file source never lists
        # a partly written file
        name = os.path.basename(self.files[i])
        tmp = os.path.join(self.source_dir, "." + name)
        shutil.copyfile(self.files[i], tmp)
        os.replace(tmp, os.path.join(self.source_dir, name))


STREAM_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def build(spark, spec: dict, seed: int, scale: float) -> Corpus:
    """Synthesize and materialize the workload's corpus and model. The
    corpus is cut to exactly ``n_turns`` turns (in (conv_id, turn_idx)
    order), so every seed gives the pipeline the same number of rows."""
    from pilsner_spark.plans.pipeline import build_corpus

    transcripts, model = build_corpus(
        spark,
        max(20, int(round(spec["n_convs"] * scale))),
        seed,
        spec["dictionary"],
        spec["n_entities"],
        hard_every=spec["hard_every"],
    )
    n_turns = int(round(spec["n_turns"] * scale))
    transcripts = transcripts.orderBy("conv_id", "turn_idx").limit(n_turns).localCheckpoint()
    got = transcripts.count()
    if got != n_turns:
        raise RuntimeError(f"corpus has {got} turns, fewer than the workload's {n_turns}")
    return Corpus(transcripts, model, got)


def _bridge_turns(pdf, n_files: int, fraction: float, seed: int) -> Dict[int, List[dict]]:
    """Bridge turns per file index >= 1. Each names two distinct entities
    first planted in earlier files, using an unambiguous surface (one that
    only that entity was planted with) already seen for each, between filler
    words no dictionary label uses."""
    from pilsner_spark.sources.synth import filler_vocab

    planted = pdf[pdf["plant_style"] == "plain"]
    owners = planted.groupby("planted_label")["planted_entity"].nunique()
    plain = planted[planted["planted_label"].map(owners) == 1]
    labels = set(pdf["planted_label"].dropna())
    vocab = filler_vocab(200, seed, sorted({t for lab in labels for t in lab.split()}))
    rng = random.Random(seed * 1_000_003 + 17)
    out: Dict[int, List[dict]] = {}
    seen: Dict[str, str] = {}  # entity -> first surface seen, in arrival order
    ts = pdf["ts"].max()
    for f in range(n_files):
        if f:
            entities = sorted(seen)
            n_bridges = int(round(fraction * int((pdf["_file"] == f).sum())))
            rows = []
            for j in range(n_bridges if len(entities) >= 2 else 0):
                a, b = rng.sample(entities, 2)
                words = [rng.choice(vocab) for _ in range(4)]
                text = f"{words[0]} {words[1]} {seen[a]} {words[2]} {seen[b]} {words[3]}"
                rows.append(
                    {"conv_id": f"bridge_{f:02d}_{j:05d}", "turn_idx": 0, "role": "user",
                     "text": text, "tool": "none", "ts": ts}
                )
            out[f] = rows
        part = plain[plain["_file"] == f].sort_values(["conv_id", "turn_idx"])
        for entity, label in zip(part["planted_entity"], part["planted_label"]):
            seen.setdefault(entity, label)
    return out


def stage_stream(corpus: Corpus, spec: dict, seed: int, path: str) -> StagedStream:
    """Write the corpus as ``stream_files`` parquet files (contiguous
    conversation ranges, in arrival order), each later file with its bridge
    turns. Nothing is visible to the stream until delivered."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    staged_dir, source_dir = os.path.join(path, "staged"), os.path.join(path, "source")
    os.makedirs(staged_dir)
    os.makedirs(source_dir)
    pdf = corpus.transcripts.toPandas()
    n_files = spec["stream_files"]
    convs = sorted(pdf["conv_id"].unique())
    conv_ord = {c: i for i, c in enumerate(convs)}
    pdf["_file"] = pdf["conv_id"].map(lambda c: conv_ord[c] * n_files // len(convs)).astype(int)
    bridges = _bridge_turns(pdf, n_files, spec["bridge_fraction"], seed)
    staged = StagedStream(source_dir, [], [], [], [])
    for f in range(n_files):
        part = pdf[pdf["_file"] == f][STREAM_COLUMNS]
        extra = bridges.get(f, [])
        if extra:
            part = pd.concat([part, pd.DataFrame(extra, columns=STREAM_COLUMNS)], ignore_index=True)
        part = part.astype({"turn_idx": "int32"})
        file = os.path.join(staged_dir, f"part-{f:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), file, coerce_timestamps="us")
        staged.files.append(file)
        staged.turns.append(len(part))
        staged.bridges.append(len(extra))
        staged.texts.append([(f"{c}#{t}", x) for c, t, x in zip(part["conv_id"], part["turn_idx"], part["text"])])
    return staged


def stream_reader(spark, staged: StagedStream):
    return spark.readStream.schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(staged.source_dir)


def kernel_sample(corpus: Corpus, seed: int, n: int = 300) -> List[str]:
    """A fixed seeded sample of the corpus's turn texts, in a stable order."""
    rows = corpus.transcripts.select("conv_id", "turn_idx", "text").collect()
    rows.sort(key=lambda r: (r.conv_id, r.turn_idx))
    rng = random.Random(seed)
    picked = rng.sample(rows, min(n, len(rows)))
    return [r.text or "" for r in picked]
