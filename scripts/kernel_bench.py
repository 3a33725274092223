"""Single-core extraction-kernel micro-bench (no Spark).

Runs the per-row work of the Arrow extraction stage (operators/extraction.py)
in one process, one thread: ``extract_turn`` per payload kind and
``finalize_turn``, over payloads rendered from the same templates and
document generator as perfbench's ``extract_mixed`` (perfbench/inputs.py).
It prints per-turn microseconds under perfbench's per-layer names
(``kernels.html_us``, ``layout_us``, ``text_us``, ``finalize_us``), best of
``--repeat``, and one checksum over every kind's output, so a kernel change
can show its layer delta and its output parity in seconds. Absolute
numbers move with the host: compare two trees back to back.

Usage:
    python scripts/kernel_bench.py [--seed 1] [--repeat 9]
    python scripts/kernel_bench.py --profile   # cProfile top functions

Reference analogue: TestDataSpeed's warmup + wall discipline
(/root/reference/deepdoctection/dataflow/common.py:23-61).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import inputs  # perfbench/inputs.py: the extract_mixed document generator

from deepdoctection_spark.config import DEFAULT_CONFIG
from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn

KINDS = (("html", "browser"), ("layout", "pdf_reader"), ("text", ""))
N_DOCS = 600  # as perfbench's kernel isolate


def build_payloads(seed: int, n_docs: int) -> list[tuple[dict, str, str]]:
    """(document, text, tool) rows: the payload mix ``extract_mixed`` feeds
    the stage, a third of each kind."""
    docs = inputs.documents(seed, n_docs).to_pylist()
    return [(d, *inputs.render_payload(d)) for d in docs]


def best_us(fn, items: list, repeat: int) -> float:
    """Best-of-``repeat`` microseconds per item of ``fn`` over ``items``."""
    walls = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn(items)
        walls.append(time.perf_counter() - t0)
    return min(walls) / len(items) * 1e6


def checksum(finals) -> str:
    """md5 over each turn's extracted text, block spans and cells."""
    h = hashlib.md5()
    for fin in finals:
        h.update(repr((fin.extracted_text, fin.blocks, fin.cells, fin.table_html)).encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=9)
    ap.add_argument("--profile", action="store_true")
    args = ap.parse_args()

    cfg = DEFAULT_CONFIG
    kargs = (cfg.link_density_threshold, cfg.column_gap, cfg.tag_density_threshold)
    rows = build_payloads(args.seed, N_DOCS)

    def extract_all(items):
        return [extract_turn(p, tool, *kargs) for p, tool in items]

    def finalize_all(items):
        return [finalize_turn(c, i, b, with_words=False) for c, i, b in items]

    if args.profile:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        extract_all([(p, t) for _d, p, t in rows])
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
        return

    out: dict[str, object] = {"seed": args.seed, "turns": len(rows)}
    for kind, tool in KINDS:
        mine = [(p, t) for _d, p, t in rows if t == tool]
        out[f"kernels.{kind}_us"] = round(best_us(extract_all, mine, args.repeat), 2)
    blocks = [(f"conv-{d['doc_id'] // 8:05d}", d["doc_id"] % 8, extract_turn(p, t, *kargs))
              for d, p, t in rows]
    out["kernels.finalize_us"] = round(best_us(finalize_all, blocks, args.repeat), 2)
    out["checksum"] = checksum(finalize_all(blocks))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
