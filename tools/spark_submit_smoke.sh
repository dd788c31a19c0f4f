#!/usr/bin/env bash
# North-rule packaging evidence: the engine ships as a --py-files zip and
# runs under spark-submit (the deployment mode a multi-executor cluster
# uses). Zips balrog_spark/, submits a small end-to-end job from a
# directory holding only the zip, with PYTHONPATH unset, and checks rows.
# Exits non-zero unless the job exits 0 and prints SUBMIT_SMOKE_ROWS=8.
set -euo pipefail
cd "$(dirname "$0")/.."

WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT
ZIP="$WORK/zip/balrog_spark.zip"
mkdir -p "$WORK/zip"

python - "$ZIP" <<'EOF'
import os, sys, zipfile
with zipfile.ZipFile(sys.argv[1], 'w') as z:
    for root, _, files in os.walk('balrog_spark'):
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
print('zipped', os.path.getsize(sys.argv[1]), 'bytes')
EOF

cat > "$WORK/submit_job.py" <<'EOF'
from pyspark.sql import SparkSession

spark = (SparkSession.builder.appName("balrog-submit-smoke")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .getOrCreate())
from balrog_spark import corpus, raster  # resolved from --py-files zip

tiles = corpus.spark_tiles(spark, 2, 2)
n = raster.bal_max_tiles(tiles, fdis=(100, 80)).count()
print(f"SUBMIT_SMOKE_ROWS={n}")
assert n == 2 * 2 * 2, n
spark.stop()
EOF

SPARK_SUBMIT=$(python -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'bin', 'spark-submit'))")

LOG="$WORK/submit_job.log"
status=0
(cd "$WORK/zip" && env -u PYTHONPATH "$SPARK_SUBMIT" --master "local[8]" \
    --py-files "$ZIP" "$WORK/submit_job.py") > "$LOG" 2>&1 || status=$?
grep -E "^SUBMIT_SMOKE_ROWS|Error" "$LOG" || true
if [ "$status" -ne 0 ] || ! grep -qx "SUBMIT_SMOKE_ROWS=8" "$LOG"; then
    echo "spark-submit smoke FAILED (exit $status)" >&2
    tail -n 30 "$LOG" >&2
    exit 1
fi
echo "spark-submit smoke done"
