#!/usr/bin/env python3
"""Per-query table of the top emitters of six noisy log lines, read from a
QueryRunner records file (Verify's <out>/query_records.jsonl or Bench's
bench_records.jsonl). Usage:
    python3 plans/query_runner/noisy_table.py <records.jsonl> [top]
Prints markdown: per line, the total, the number of emitting queries and
the top emitters (for task binaries also each query's largest size).
"""
import json
import re
import sys

LINES = [
    ("No Partition Defined for Window", lambda k, t: "No Partition Defined for Window" in t),
    ("non-existent accumulator", lambda k, t: "non-existent accumulator" in t),
    ("Broadcasting large task binary", lambda k, t: t.startswith("Broadcasting large task binary")),
    ("locally checkpointed", lambda k, t: "locally checkpointed" in t),
    ("ResolveWriteToStream", lambda k, t: k.endswith("ResolveWriteToStream")),
    ("Failed to cancel job group", lambda k, t: t.startswith("Failed to cancel job group")),
]
UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}


def size_bytes(template):
    m = re.search(r"with size ([\d.]+) (B|KiB|MiB|GiB)", template)
    return float(m.group(1)) * UNIT[m.group(2)] if m else 0.0


def main(path, top=10):
    records = [json.loads(line) for line in open(path)]
    print(f"{len(records)} records from `{path.split('/')[-1]}`\n")
    for title, match in LINES:
        per = {}
        for r in records:
            n, big = 0, 0.0
            for key, templates in r["logs"].items():
                for t, c in templates.items():
                    if match(key, t):
                        n += c
                        big = max(big, size_bytes(t))
            if n:
                q = per.setdefault(r["name"], [0, 0.0])
                q[0] += n
                q[1] = max(q[1], big)
        total = sum(n for n, _ in per.values())
        print(f"### `{title}`: {total} lines from {len(per)} queries\n")
        if not per:
            continue
        sized = title.startswith("Broadcasting")
        print("| query | lines |" + (" largest |" if sized else ""))
        print("|---|---|" + ("---|" if sized else ""))
        ranked = sorted(per.items(), key=lambda kv: (-kv[1][1], -kv[1][0]) if sized else (-kv[1][0], kv[0]))
        for name, (n, big) in ranked[:top]:
            print(f"| {name} | {n} |" + (f" {big / (1 << 20):.1f} MiB |" if sized else ""))
        if len(per) > top:
            print(f"| ({len(per) - top} more) | {sum(n for _, (n, _) in ranked[top:])} |" + (" |" if sized else ""))
        print()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 10)
