#!/usr/bin/env python3
"""Grep reduce: print the value of each "key<TAB>value" stdin line;
lines without a TAB are malformed and skipped.
"""
import sys


def main():
    for line in sys.stdin:
        _key, sep, value = line.rstrip("\n").partition("\t")
        if not sep:
            continue
        print(value)


if __name__ == "__main__":
    main()
