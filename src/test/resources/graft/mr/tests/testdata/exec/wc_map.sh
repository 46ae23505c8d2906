#!/bin/sh
#
# Word count map: one "token<TAB>1" line per token of stdin.
#
# tr's SET1 '[ \t]' is the four characters '[', space, TAB and ']'; each
# becomes a newline, so each ends a token, and adjacent separators leave
# empty tokens (emitted as "<TAB>1"). Only ASCII A-Z are lowercased.
# Reads stdin only: the engine passes the input file as $0, not argv.

tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
