"""Multi-probe cross-modal retrieval (VERDICT r12 task 1).

r12's `mm_crossmodal_recall_eval` measured the number it was built to
surface: canonical-payload recall@k of the IVF-pruned cross-modal
retriever is 0.44 (sf0.001) / 0.52 (sf0.01) under the default
nprobe=4 probe — the weakest measured quality number in the engine,
and the same boundary-miss class the semantic-dedup family closed
twice (r11 `_mp` multi-probe, r12 trained quantizer).

This module applies the probe lever after measuring BOTH levers on
the committed artifacts (r13, numpy replication validated against the
r12 census):

| centroids | nprobe | recall sf0.001 | recall sf0.01 |
|---|---|---|---|
| seeded    | 4 | 0.44 | 0.52 |
| seeded    | 6 | 0.60 | 0.66 |
| seeded    | 8 | 0.74 | 0.75 |
| trained (trained_pq_ann.json coarse) | 4 | 0.47 | 0.40 |
| trained   | 8 | 0.74 | 0.70 |

The TRAINED coarse quantizer does not help here — it generalizes
worse off its training corpus (0.40 at sf0.01, BELOW the seeded
baseline; the same cross-SF effect r12 recorded for the semantic
quantizer) — so the variant keeps the seeded centroids and widens the
probe: nprobe 4 -> 8 doubles the scanned fraction (8/16 cells) and
lifts canonical recall 0.44-0.52 -> 0.74-0.75 at both gated SFs.

100 TB shape: candidate volume is nprobe/nlist of the corpus — the
probe-join stays cell-pruned, the media payload table is still read
exactly once (digest projection), hits/canon maps stay broadcast.
An 8/16 scan fraction is an artifact of this dataset's fixed 16-cell
quantizer, not the production setting: at corpus scale nlist grows
with the corpus (the committed kmeans trainer is the retraining
hook), so nprobe=8 of nlist=4096 probes 0.2% of the data while
keeping the recall benefit of a wider probe window.

Reference parity: retrieval returns the keep-first CANONICAL media id
among payload-duplicates — the reference's dedup semantics
(repositories/postgres_audit_repository.py:68-70).
"""

from __future__ import annotations

from .multimodal import _mm_crossmodal_oracle, mm_crossmodal_topk

# Measured r13 (table above): 8 of 16 cells is the knee where mean
# canonical recall clears 0.74 at both gated SFs; 6 would save 25% of
# the candidate scan but gives up 0.09-0.14 recall.
MP_NPROBE = 8


def mm_crossmodal_topk_mp(spark, sf_dir):
    """Cross-modal retrieval under the widened probe (module
    docstring): multimodal.mm_crossmodal_topk at nprobe=MP_NPROBE."""
    return mm_crossmodal_topk(spark, sf_dir, nprobe=MP_NPROBE)


QUERIES = {
    "mm_crossmodal_topk_mp": mm_crossmodal_topk_mp,
}

ORACLE_SQL = {
    "mm_crossmodal_topk_mp": _mm_crossmodal_oracle(MP_NPROBE),
}
