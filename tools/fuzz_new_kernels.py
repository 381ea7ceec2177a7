"""Adversarial mutation sweep over the round-5 session kernels
(eml/mbox, srt/vtt, ipynb, csv, tex, bz2/xz re-dispatch) and the ZIP
packages (docx/xlsx/pptx/odt/ods/odp/epub) — the same
evidence protocol as the earlier rounds' million-mutant sweeps:
random point mutations, truncations and cross-format splices driven
through extract_any under a per-document watchdog. Zero crashes and
zero hangs is the pass condition; results are recorded in
BASELINE.md.

Usage: python tools/fuzz_new_kernels.py [n_mutants] [seed]
"""

from __future__ import annotations

import os
import random
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zpdfspark import fixtures  # noqa: E402
from zpdfspark.kernel.htmltext import extract_any  # noqa: E402

GENS = [fixtures.eml_doc, fixtures.mbox_archive, fixtures.srt_doc,
        fixtures.vtt_doc, fixtures.ipynb_doc, fixtures.csv_doc,
        fixtures.latex_doc, fixtures.bz2_doc, fixtures.xz_doc,
        fixtures.gz_doc, fixtures.font_doc, fixtures.txt_doc,
        # closing-session kernels (wiki reduction, code/md through the
        # txt fallback, json/jsonl, PostScript, sqlite header walk)
        fixtures.wiki_doc, fixtures.code_doc, fixtures.md_doc,
        fixtures.json_doc, fixtures.ps_doc, fixtures.sqlite_doc,
        fixtures.djvu_doc,
        # the ZIP packages (kernel/package.py and its seven kernels)
        fixtures.docx_doc, fixtures.xlsx_doc, fixtures.pptx_doc,
        fixtures.odt_doc, fixtures.ods_doc, fixtures.odp_doc,
        fixtures.epub_doc]

WATCHDOG_S = 3


class Hang(Exception):
    pass


def _alarm(signum, frame):
    raise Hang("watchdog")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    rng = random.Random(seed)
    bases = [g(i)[0] for g in GENS for i in range(8)]
    signal.signal(signal.SIGALRM, _alarm)
    t0 = time.time()
    worst = 0.0
    for k in range(n):
        b = bytearray(bases[rng.randrange(len(bases))])
        op = rng.random()
        if op < 0.5:                      # point mutations
            for _ in range(rng.randint(1, 16)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op < 0.8:                    # truncation
            b = b[:rng.randrange(1, len(b))]
        else:                             # cross-format splice
            other = bases[rng.randrange(len(bases))]
            cut = rng.randrange(1, len(b))
            b = b[:cut] + other[rng.randrange(len(other)):]
        raw = bytes(b)
        signal.alarm(WATCHDOG_S)
        t1 = time.time()
        try:
            extract_any(raw, "accuracy")
        except Hang:
            print(f"HANG at mutant {k}")
            raise SystemExit(1)
        finally:
            signal.alarm(0)
        worst = max(worst, time.time() - t1)
        if (k + 1) % 20000 == 0:
            print(f"{k + 1}/{n} mutants, {time.time() - t0:.0f}s, "
                  f"worst doc {worst:.3f}s", flush=True)
    print(f"PASS: {n} mutants in {time.time() - t0:.0f}s, zero "
          f"crashes/hangs, worst single doc {worst:.3f}s")


if __name__ == "__main__":
    main()
