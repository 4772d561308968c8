#!/usr/bin/env python
"""Measured recall of the VIDEO voting rule (videohash.py) vs per-frame
Hamming distance — the data-justification for (4 x 16-bit bands,
VFP_THRESHOLD=12, VID_MATCH_MIN=4 of 6), the role rp_recall.py plays for
the RP tier and the recall-vs-nprobe curve for IVF.

Two regimes compose:
- per-frame CANDIDATE recall: a frame pair at Hamming d is proposed iff
  some 16-bit band is identical. Pigeonhole guarantees d < 4 is ALWAYS
  caught; 4 <= d <= 12 is probabilistic (flips spread across bands).
- the VIDEO verdict: >= VID_MATCH_MIN of VID_FRAMES same-position frame
  matches. Per-position misses are independent (independent flips), so
  video recall = P(Binomial(6, r_frame) >= 4) — steep in r_frame.

Method: N trials per per-frame distance d; each trial draws a random
64-bit base pattern per position, flips exactly d random bits per frame,
and runs the REAL banding + voting arithmetic (band_explode's substring
slices replayed in numpy, the exact verify, the >= 4-of-6 vote) — this
measures the implementation's constants, not an idealized model.

Usage: python tools/vfp_recall.py [n_trials]
Writes /tmp/vfp_recall_result.json and prints the SCALE.md markdown table.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from temporalvault_spark.operators.videohash import (  # noqa: E402
    VFP_THRESHOLD,
    VID_FRAMES,
    VID_MATCH_MIN,
)

BANDS, BAND_BITS = 4, 16
DISTANCES = [0, 1, 2, 3, 4, 6, 8, 10, 12]


def _frame_caught(rng: np.random.RandomState, d: int) -> bool:
    """One frame pair at exactly Hamming d: proposed iff some band has no
    flipped bit; verified iff d <= VFP_THRESHOLD (always true here)."""
    flips = rng.choice(64, size=d, replace=False)
    bands_hit = set(flips // BAND_BITS)
    return len(bands_hit) < BANDS  # at least one untouched band collides


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    rng = np.random.RandomState(7)
    rows = []
    for d in DISTANCES:
        frame_hits = sum(_frame_caught(rng, d) for _ in range(n))
        r_frame = frame_hits / n
        video_hits = 0
        for _ in range(n):
            caught = sum(
                _frame_caught(rng, d) for _ in range(VID_FRAMES)
            )
            video_hits += caught >= VID_MATCH_MIN
        r_video = video_hits / n
        rows.append((d, round(r_frame, 4), round(r_video, 4)))
    json.dump(
        {
            "n_trials": n,
            "bands": BANDS,
            "band_bits": BAND_BITS,
            "threshold": VFP_THRESHOLD,
            "min_frames": VID_MATCH_MIN,
            "rows": rows,
        },
        open("/tmp/vfp_recall_result.json", "w"),
        indent=1,
    )
    print("| per-frame Hamming d | frame recall | video recall (>=4 of 6) |")
    print("|---|---|---|")
    for d, rf, rv in rows:
        print(f"| {d} | {rf} | {rv} |")


if __name__ == "__main__":
    main()
