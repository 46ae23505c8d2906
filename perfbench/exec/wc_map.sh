#!/bin/sh
# Word-count mapper: split stdin on spaces and tabs (an empty field is an
# empty token), lowercase, and emit "token<TAB>1" per token.
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
