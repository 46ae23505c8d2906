#!/usr/bin/env python3
"""Grep mapper: emit "1<TAB>line" for every non-blank stdin line that
contains the query (argv[1], default "product") case-insensitively."""
import sys

query = sys.argv[1] if len(sys.argv) > 1 else "product"
for line in sys.stdin:
    line = line.rstrip("\n")
    if not line.strip():
        continue
    if query in line.lower():
        print(f"1\t{line}")
