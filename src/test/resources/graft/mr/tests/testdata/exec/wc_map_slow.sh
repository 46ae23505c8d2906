#!/bin/sh
#
# Slow word count map (fault-injection variant): sleep 3 s, then act
# exactly as wc_map.sh.

sleep 3
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
