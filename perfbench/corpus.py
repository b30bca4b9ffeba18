"""Load generator: seeded transcript corpora, their identity digest, staging.

The corpus comes from the repository generator ``datagen.gen_transcript_pair``
with its default divergence mix; the benchmark only chooses its size and
seed. Staging writes parquet with pyarrow (not Spark), so generator cost
stays outside the system under test.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spanner_data_validator_spark.datagen import gen_transcript_pair
from spanner_data_validator_spark.jobs.validate_transcripts import SENTINEL_CONV

ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Corpus:
    source: pd.DataFrame
    target: pd.DataFrame
    expected: dict[str, int]

    @property
    def turns(self) -> int:
        return len(self.source) + len(self.target)

    def digest(self) -> dict:
        """Identity of the workload: rows per side, expected totals and a
        content checksum over every cell of both sides."""
        h = hashlib.sha256()
        for df in (self.source, self.target):
            h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
        return {
            "rows_source": len(self.source),
            "rows_target": len(self.target),
            "expected": dict(sorted(self.expected.items())),
            "sha256": h.hexdigest(),
        }


def make_corpus(n_convs: int, seed: int, *, with_tool: bool = True) -> Corpus:
    pair = gen_transcript_pair(n_convs=n_convs, seed=seed)
    src, tgt = pair.source, pair.target
    if not with_tool:
        # chat-only control: same keys, texts and planted divergences; the
        # generator never plants a divergence in `tool`, so `expected` holds
        src = src.assign(tool=None)
        tgt = tgt.assign(tool=None)
    return Corpus(src, tgt, dict(pair.expected))


def _write(df: pd.DataFrame, path: str, mtime: float | None = None) -> None:
    table = pa.Table.from_pandas(
        df.assign(ts=df["ts"].dt.tz_localize("UTC")), schema=ARROW_SCHEMA,
        preserve_index=False)
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def stage_batch(corpus: Corpus, root: str, n_files: int) -> tuple[str, str]:
    """Both sides as ``n_files`` parquet files each; returns (src, tgt) dirs."""
    dirs = []
    for side, df in (("source", corpus.source), ("target", corpus.target)):
        d = os.path.join(root, side)
        os.makedirs(d)
        for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
            _write(df.iloc[part], os.path.join(d, f"part-{i:03d}.parquet"))
        dirs.append(d)
    return dirs[0], dirs[1]


def stage_waves(corpus: Corpus, root: str, waves: int) -> tuple[str, str]:
    """Both sides cut at the same event-time quantiles into ``waves`` files.

    The last wave carries one far-future sentinel row per side, which moves
    the watermark past all data (``validate_transcripts.append_sentinel``
    does the same for the job). File modification times increase wave by
    wave, so a file-stream source with ``maxFilesPerTrigger=1`` admits
    exactly one wave per side per micro-batch, in event-time order.
    """
    ts_all = np.concatenate([corpus.source["ts"].to_numpy(), corpus.target["ts"].to_numpy()])
    cuts = np.quantile(ts_all.astype("int64"), np.linspace(0, 1, waves + 1)[1:-1])
    sentinel = pd.DataFrame({
        "conv_id": [SENTINEL_CONV], "turn_idx": np.array([0], dtype="int32"),
        "role": ["system"], "text": ["sentinel"], "tool": [None],
        "ts": [pd.Timestamp("2100-01-01")],
    })
    base = 1_600_000_000.0
    dirs = []
    for side, df in (("source", corpus.source), ("target", corpus.target)):
        d = os.path.join(root, side)
        os.makedirs(d)
        wave = np.searchsorted(cuts, df["ts"].to_numpy().astype("int64"), side="right")
        for w in range(waves):
            part = df[wave == w]
            if w == waves - 1:
                part = pd.concat([part, sentinel], ignore_index=True)
            _write(part, os.path.join(d, f"wave-{w:03d}.parquet"), base + w)
        dirs.append(d)
    return dirs[0], dirs[1]


def check_identity(digests_path: str, workload: str, seed: int, digest: dict) -> str:
    """Compare with the recorded digest; returns 'match' or 'unrecorded',
    raises when the generator now produces a different corpus."""
    with open(digests_path) as f:
        recorded = json.load(f).get(workload, {}).get(str(seed))
    if recorded is None:
        return "unrecorded"
    if recorded != digest:
        raise SystemExit(
            f"corpus for {workload} seed {seed} differs from the recorded digest "
            f"({digests_path}): recorded {recorded}, generated {digest}. A "
            "generator change re-baselines the benchmark as its own change.")
    return "match"
