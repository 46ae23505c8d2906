#!/bin/sh
#
# Word count reduce: "token<TAB>count" per distinct token of stdin.
#
# Assumes sorted input (equal tokens adjacent) and every value 1: it
# counts lines per key rather than summing values.

cut -f1 | uniq -c | awk '{print $2"\t"$1}'
