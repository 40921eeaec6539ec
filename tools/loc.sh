#!/usr/bin/env bash
# Line counts recorded per change: all of src/main, the dev tools inside
# it (src/main/scala/graft/tools) and the scripts in tools/.
# Usage: bash tools/loc.sh   (from anywhere inside the checkout)
set -euo pipefail
cd "$(dirname "$0")/.."
count() { find "$1" -type f -print0 | xargs -0 cat | wc -l; }
printf 'src/main %d\n' "$(count src/main)"
printf 'src/main/scala/graft/tools %d\n' "$(count src/main/scala/graft/tools)"
printf 'tools %d\n' "$(count tools)"
