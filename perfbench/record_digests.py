#!/usr/bin/env python3
"""Record the corpus digest of every workload for a range of seeds.

    python3 perfbench/record_digests.py 0 40   # seeds 0..39

Writes ``perfbench/corpus_digests.json``; ``run.py`` refuses to run a
recorded seed whose generated corpus no longer matches. Re-record only in
a change that means to re-baseline the benchmark (a generator change).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus as cm  # noqa: E402
from run import BATCH_CONVS, DIGESTS, STREAM_CONVS  # noqa: E402

SHAPES = {"agent_batch": (BATCH_CONVS, True), "chat_batch": (BATCH_CONVS, False),
          "agent_stream": (STREAM_CONVS, True)}


def main() -> None:
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    out = {}
    for workload, (n_convs, with_tool) in SHAPES.items():
        out[workload] = {str(seed): cm.make_corpus(n_convs, seed, with_tool=with_tool).digest()
                         for seed in range(lo, hi)}
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
