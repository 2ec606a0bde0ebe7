#!/bin/sh
# Pre-commit smoke gate (r5 post-mortem: an un-smoked final commit broke
# every kNN path). Run this before ANY commit that touches a kernel or
# operator — ~60 s total:
#   1. kernel property tests (pin the NumPy kernel contracts, incl. the
#      end-to-end Arrow canary test_sq8_arrow_path_end_to_end_tiny)
#   2. the side-rule tests: every brute-force plan choice and the
#      parity of the plans it picks between
#   3. one registry smoke: __spark_entry__.entry() runs and counts
set -e
cd "$(dirname "$0")/.."
# size Spark to this host unless SPARK_GRAFT_CPUS says otherwise (nproc
# honours OMP_NUM_THREADS, so drop it for the count)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
python -m pytest tests/test_kernel_properties.py -q
python -m pytest tests/test_knn.py -q -k "side or paths_identical or parity"
python - <<'EOF'
from sigmod_2024_contest_spark.session import get_spark
import __spark_entry__ as e
spark = get_spark("smoke")  # cpus from SPARK_GRAFT_CPUS
n = e.entry(spark).count()
print(f"entry() rows: {n}")
assert n >= 0
spark.stop()
EOF
echo "SMOKE OK"
