#!/usr/bin/env python3
"""Canonicalize Spark's distinct-aggregate `Expand` for scripts/plandiff.sh.

Spark's RewriteDistinctAggregates orders the distinct groups of an
aggregate by expression-id hashing, so two runs of the same tree can
list the `Expand` projections, the group columns, and the `gid` literals
that index them in a different order. This filter (stdin -> stdout)
removes that freedom from a formatted plan, for the comparison only:

  relabel  (raw plan, before id masking) -- each `gid` literal becomes
           `g<i>`, where i ranks its Expand projection by content (the
           projection's non-null, non-gid items, ids masked). Applied to
           the Expand rows and to every `gid#<id> = <k>` filter.
  sort     (after id masking) -- on lines that carry `gid#N`, the
           elements of every [...] list and of hashpartitioning(...) are
           sorted, so the group-column order no longer shows.

Lines without a gid column pass through unchanged.
"""
import re
import sys


def split_top(s):
    """Split on ', ' at bracket/paren depth 0, skipping quoted text."""
    out, depth, cur, i = [], 0, [], 0
    while i < len(s):
        c = s[i]
        if c == "'":
            j = s.find("'", i + 1)
            j = len(s) - 1 if j < 0 else j
            cur.append(s[i:j + 1])
            i = j + 1
            continue
        if c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
        if depth == 0 and s.startswith(", ", i):
            out.append("".join(cur))
            cur = []
            i += 2
            continue
        cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def close_of(s, i):
    """Index of the bracket closing the one opened at s[i]."""
    depth, j = 0, i
    while j < len(s):
        c = s[j]
        if c == "'":
            k = s.find("'", j + 1)
            j = len(s) if k < 0 else k + 1
            continue
        if c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    return len(s) - 1


def canon(s):
    """Sort every [...] list (and hashpartitioning args), innermost first."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "'":
            k = s.find("'", i + 1)
            k = len(s) - 1 if k < 0 else k
            out.append(s[i:k + 1])
            i = k + 1
            continue
        if c in "[(":
            j = close_of(s, i)
            items = [canon(x) for x in split_top(s[i + 1:j])]
            if c == "[" or s[max(0, i - 16):i] == "hashpartitioning":
                items.sort()
            out.append(c + ", ".join(items) + s[j])
            i = j + 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


MASK_ID = re.compile(r"#[0-9]+")


def relabel(text):
    lines = text.split("\n")
    order = {}  # gid attribute (raw id) -> {literal: canonical label}
    for n, line in enumerate(lines):
        if not (line.startswith("Arguments: [[") and n > 1
                and re.match(r"\(\d+\) Expand", lines[n - 2])):
            continue
        body = line[len("Arguments: "):]
        rows_end = close_of(body, 0)
        cells = [split_top(r[1:-1]) for r in split_top(body[1:rows_end])]
        outputs = split_top(body[rows_end + 4:-1])
        pos = [k for k, o in enumerate(outputs) if re.fullmatch(r"gid#\d+", o)]
        if len(pos) != 1:
            continue
        at = pos[0]
        keys = {cs[at]: "|".join(sorted(MASK_ID.sub("#N", x)
                                        for k, x in enumerate(cs)
                                        if k != at and x != "null"))
                for cs in cells}
        if len(set(keys.values())) != len(keys):
            continue  # ambiguous projections: leave this Expand as it is
        label = {v: "g%d" % k
                 for k, v in enumerate(sorted(keys, key=keys.get))}
        order[outputs[at]] = label
        for cs in cells:
            cs[at] = label[cs[at]]
        lines[n] = ("Arguments: [" + ", ".join("[" + ", ".join(cs) + "]"
                                                for cs in cells)
                    + body[rows_end:])
    text = "\n".join(lines)
    for gid, label in order.items():
        text = re.sub(re.escape(gid) + r" = (\d+)\b",
                      lambda m: "%s = %s" % (gid, label.get(m.group(1),
                                                            m.group(1))),
                      text)
    return text


def main():
    mode = sys.argv[1]
    text = sys.stdin.read()
    if mode == "relabel":
        sys.stdout.write(relabel(text))
    elif mode == "sort":
        sys.stdout.write("\n".join(canon(l) if "gid#N" in l else l
                                   for l in text.split("\n")))
    else:
        sys.exit("usage: plandiff_expand.py relabel|sort < plan")


if __name__ == "__main__":
    main()
