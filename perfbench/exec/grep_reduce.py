#!/usr/bin/env python3
"""Grep reducer: print the value of every "key<TAB>value" stdin line and
skip lines without a tab."""
import sys

for line in sys.stdin:
    parts = line.rstrip("\n").split("\t", 1)
    if len(parts) != 2:
        continue
    print(parts[1])
