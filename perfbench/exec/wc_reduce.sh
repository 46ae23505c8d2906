#!/bin/sh
# Word-count reducer: input is sorted "token<TAB>1" lines, so equal keys are
# adjacent and every value is 1; emit "token<TAB>count" per run of keys.
cut -f1 | uniq -c | awk '{print $2"\t"$1}'
