"""Matching + NMS queries with generated DuckDB oracles.

The Spark side synthesizes noisy proposals around each extracted block and
runs the REAL greedy-NMS and IoA-argmax-matching kernels
(operators/matchnms.py). The oracle never runs NMS or matching: it derives
the expected survivors and assignments *analytically* from the template
ground truth — for the fixed proposal geometry (kernels/noisy.py) the greedy
suppression outcome and every argmax assignment reduce to closed-form
arithmetic over the block length L (parity of L decides the boundary cases).
Agreement therefore checks the kernels' greedy order, strict-inequality IoU
boundary (suppress only when IoU > thr), ≥-threshold IoA matching, and
first-max tie-breaking, end-to-end against an independent derivation.

Requires every block length ≥ 5 — guaranteed by the template (shortest block
is 'Document {d}', and documents.text is ≥ 44 chars normalized).
"""

from __future__ import annotations

from deepdoctection_spark.operators.extraction import extract_transcripts
from deepdoctection_spark.operators.matchnms import noisy_assignments, noisy_candidates
from deepdoctection_spark.plans.oracles import block_geometry
from deepdoctection_spark.plans.registry import register
from deepdoctection_spark.sources.transcripts import TRANSCRIPT_BASE_SQL, build_transcripts

_TWO_THIRDS = "floor((2.0/3)*10000 + 0.5)/10000"
_ONE_THIRD = "floor((1.0/3)*10000 + 0.5)/10000"


def _block_geometry():
    """Yield (mod, block_no, begin_sql, end_sql, len_sql) per template block,
    each SQL term parenthesised for use inside the proposal arithmetic."""
    for mod, k, _cat, begin, end, length in block_geometry():
        yield mod, k, f"({begin})", f"({end})", f"({length})"


def oracle_noisy_candidates() -> str:
    selects = []
    for mod, k, b, e, L in _block_geometry():
        rows = [
            # (cand_id, begin, end, score, kept)
            (0, b, e, "0.9", "TRUE"),
            (1, b, f"{b} + (4*{L} + 4) // 5", "0.7", "FALSE"),
            (2, f"{b} + {L} // 2", e, "0.8", f"({L} % 2 = 0)"),
            (3, f"{b} + {L} // 2", f"{e} + 1", "0.6", f"({L} % 2 = 1)"),
        ]
        for cid, cb, ce, score, kept in rows:
            selects.append(
                f"SELECT conv_id, turn_idx, {k}::INT AS block_no, "
                f"{cid}::INT AS cand_id, ({cb})::INT AS cand_begin, "
                f"({ce})::INT AS cand_end, {score}::DOUBLE AS score, "
                f"{kept} AS kept FROM base WHERE (doc_id % 3) = {mod}"
            )
    union = "\nUNION ALL\n".join(selects)
    return f"WITH base AS ({TRANSCRIPT_BASE_SQL})\n{union}"


def oracle_noisy_assignments() -> str:
    selects = []
    for mod, k, b, e, L in _block_geometry():
        odd = f"({L} % 2 = 1)"
        rows = [
            # (child_id, begin, end, parent_block, parent_cand, best_ioa)
            (0, b, f"{b} + ({L} + 1) // 2", str(k), "0", "1.0::DOUBLE"),
            (
                1,
                f"{e} - 2",
                f"{e} + 2",
                str(k),
                f"CASE WHEN {odd} THEN 3 ELSE 0 END",
                f"CASE WHEN {odd} THEN 0.75::DOUBLE ELSE 0.5::DOUBLE END",
            ),
            (
                2,
                e,
                f"{e} + 1",
                f"CASE WHEN {odd} THEN {k} ELSE -1 END",
                f"CASE WHEN {odd} THEN 3 ELSE -1 END",
                f"CASE WHEN {odd} THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END",
            ),
            (
                3,
                f"{e} - 1",
                f"{e} + 2",
                f"CASE WHEN {odd} THEN {k} ELSE -1 END",
                f"CASE WHEN {odd} THEN 3 ELSE -1 END",
                f"CASE WHEN {odd} THEN {_TWO_THIRDS} ELSE {_ONE_THIRD} END",
            ),
        ]
        for cid, cb, ce, pb, pc, ioa in rows:
            selects.append(
                f"SELECT conv_id, turn_idx, {k}::INT AS block_no, "
                f"{cid}::INT AS child_id, ({cb})::INT AS child_begin, "
                f"({ce})::INT AS child_end, ({pb})::INT AS parent_block_no, "
                f"({pc})::INT AS parent_cand_id, ({ioa})::DOUBLE AS best_ioa "
                f"FROM base WHERE (doc_id % 3) = {mod}"
            )
    # the per-turn always-unmatched probe, one per transcript row
    selects.append(
        "SELECT conv_id, turn_idx, -1::INT AS block_no, 0::INT AS child_id, "
        "-5::INT AS child_begin, -1::INT AS child_end, -1::INT AS parent_block_no, "
        "-1::INT AS parent_cand_id, 0.0::DOUBLE AS best_ioa FROM base"
    )
    union = "\nUNION ALL\n".join(selects)
    return f"WITH base AS ({TRANSCRIPT_BASE_SQL})\n{union}"


def _extracted(spark, sf_dir):
    return extract_transcripts(build_transcripts(spark, sf_dir), with_words=False)


@register("match_nms_candidates", oracle_noisy_candidates())
def q_match_nms_candidates(spark, sf_dir):
    return noisy_candidates(_extracted(spark, sf_dir))


@register("match_assignments", oracle_noisy_assignments())
def q_match_assignments(spark, sf_dir):
    return noisy_assignments(_extracted(spark, sf_dir))
