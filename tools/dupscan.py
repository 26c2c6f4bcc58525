"""Duplicate-window scan: count package lines that repeat an earlier block.

Usage:
    python tools/dupscan.py                  # count per file + total
    python tools/dupscan.py --show vectors   # also list repeated line
                                             # ranges of files matching

A window is 8 consecutive non-blank, non-comment lines, each stripped of
surrounding whitespace. A window whose text (the 8 lines joined by
newlines) is at least 200 characters long and equals a window seen
earlier — in the same file or in a file earlier in sorted path order —
marks its 8 lines as repeated. A file's count is its number of distinct
marked lines; the first occurrence of a block is never counted.
"""

from __future__ import annotations

import argparse
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "npc_recommender_netflix_spark")
WINDOW = 8
MIN_CHARS = 200


def package_files(package: str = PACKAGE) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(package):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(out)


def scan(files: list[str]) -> dict[str, list[int]]:
    """{path: sorted 1-based line numbers that repeat an earlier window}."""
    seen: set[str] = set()
    out: dict[str, list[int]] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            kept = [
                (no, s)
                for no, s in enumerate((ln.strip() for ln in fh), 1)
                if s and not s.startswith("#")
            ]
        marked: set[int] = set()
        for j in range(len(kept) - WINDOW + 1):
            win = kept[j : j + WINDOW]
            text = "\n".join(s for _, s in win)
            if len(text) < MIN_CHARS:
                continue
            if text in seen:
                marked.update(no for no, _ in win)
            else:
                seen.add(text)
        out[path] = sorted(marked)
    return out


def ranges(lines: list[int]) -> list[tuple[int, int]]:
    spans: list[tuple[int, int]] = []
    for no in lines:
        if spans and no == spans[-1][1] + 1:
            spans[-1] = (spans[-1][0], no)
        else:
            spans.append((no, no))
    return spans


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--show", metavar="SUBSTR", help="list ranges for matching files")
    args = ap.parse_args()
    result = scan(package_files())
    total = 0
    for path, lines in result.items():
        if not lines:
            continue
        rel = os.path.relpath(path, ROOT)
        total += len(lines)
        print(f"{len(lines):6d}  {rel}")
        if args.show and args.show in rel:
            for lo, hi in ranges(lines):
                print(f"          {lo}-{hi}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
