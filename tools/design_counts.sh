#!/usr/bin/env bash
# Prints the design-size counts of the Scala tree, one "name value" line
# each, so two checkouts can be compared. Usage: tools/design_counts.sh
#   main_lines / test_lines   lines of *.scala under src/main and src/test
#   main_public_defs          `def`s at two-space indent (members of
#                             top-level classes and objects) with no
#                             private/protected/override modifier, in src/main
#   main_test_only_defs       main_public_defs names, `main` entry points
#                             aside, that no *.scala file under src/main or
#                             perfbench/src mentions in code outside a
#                             `def <name>` line (comment lines and trailing
#                             `//` comments do not count): entry points only
#                             specs reach
#   main_env_vars             distinct SPARK_GRAFT_* names in src/main
#   session_builder_sites     `.builder()` calls (SparkSession builders) in
#                             src/main + src/test
#   main_round_tags / test_round_tags  lines carrying a round-history tag
#                             (round 7, r16, ...)
set -euo pipefail
cd "$(dirname "$0")/.."

scala_lines() { find "$1" -name '*.scala' -print0 | xargs -0 cat | wc -l; }
count_lines() { { grep -rhE "$1" "${@:2}" --include='*.scala' || true; } | wc -l; }
round_tags='\b(round[- ]?[0-9]+|rounds [0-9]+|r1[0-9]|r0[0-9])\b'

echo "main_lines $(scala_lines src/main)"
echo "test_lines $(scala_lines src/test)"
echo "main_public_defs $({ grep -rhE '^  ((final|implicit) )*def ' src/main --include='*.scala' || true; } | wc -l)"
test_only=0
for name in $({ grep -rhoE '^  ((final|implicit) )*def [A-Za-z_][A-Za-z0-9_]*' src/main --include='*.scala' || true; } | sed -E 's/.*def //' | sort -u); do
  if [ "$name" = main ]; then continue; fi
  uses=$({ grep -rwh "$name" src/main perfbench/src --include='*.scala' || true; } \
    | { grep -vE '^[[:space:]]*(//|/?\*)' || true; } | sed -E 's#//.*##' \
    | { grep -w "$name" || true; } | { grep -cvE "def $name\b" || true; })
  if [ "$uses" -eq 0 ]; then test_only=$((test_only + 1)); fi
done
echo "main_test_only_defs $test_only"
echo "main_env_vars $({ grep -rhoE 'SPARK_GRAFT_[A-Z0-9_]+' src/main --include='*.scala' || true; } | sort -u | wc -l)"
echo "session_builder_sites $(count_lines '\.builder\(\)' src/main src/test)"
echo "main_round_tags $(count_lines "$round_tags" src/main)"
echo "test_round_tags $(count_lines "$round_tags" src/test)"
