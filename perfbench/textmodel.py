#!/usr/bin/env python3
"""Derives the benchmark's text model from a markdown document.

    python3 perfbench/textmodel.py SURVEY.md > perfbench/data/text_model.tsv

The corpus generator (src/graftbench/Gen.scala) draws the number of words
in a line from the document's prose lines, and each word from the
document's words by their frequency (a unigram model). Prose lines are
the non-empty lines outside code fences that are not headings, tables,
rules or quotes. A word is a run of non-whitespace, kept as written,
except that code spans and paths (runs with a backtick or a slash) are
left out, and a line's length is counted without them.

Output, tab-separated and sorted:
    L <words in a line> <number of prose lines with that many words>
    W <word> <occurrences>
"""
import collections
import sys


def prose_lines(text):
    fenced = False
    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("```"):
            fenced = not fenced
            continue
        if fenced or not line or line[0] in "#|>" or set(line) <= set("-*_= "):
            continue
        yield line


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1], encoding="utf-8") as fh:
        lines = [[w for w in l.split() if not set(w) & set("`/")]
                 for l in prose_lines(fh.read())]
        lines = [ws for ws in lines if ws]
    lengths = collections.Counter(len(ws) for ws in lines)
    words = collections.Counter(w for ws in lines for w in ws)
    out = sys.stdout
    for n, c in sorted(lengths.items()):
        out.write(f"L\t{n}\t{c}\n")
    for w, c in sorted(words.items(), key=lambda wc: (-wc[1], wc[0])):
        out.write(f"W\t{w}\t{c}\n")


if __name__ == "__main__":
    main()
