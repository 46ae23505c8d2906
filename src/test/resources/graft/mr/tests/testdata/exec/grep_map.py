#!/usr/bin/env python3
"""Grep map: emit "1<TAB><line>" for each non-blank stdin line that
contains the query, case-insensitively. The query is argv[1], else
"product"; the engine passes no argv, so jobs search for "product".
"""
import sys


def main():
    query = sys.argv[1].lower() if len(sys.argv) > 1 else "product"
    for line in sys.stdin:
        line = line.rstrip("\n")
        if not line.strip():
            continue
        if query in line.lower():
            print(f"1\t{line}")


if __name__ == "__main__":
    main()
