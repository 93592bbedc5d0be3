#!/usr/bin/env bash
# Round-18: validate the r17 serve-floor row-group bound at the FILE
# GEOMETRY where the floor was measured, without re-landing 40M.
#
# SERVEPROF_r17_40M attributed the warm ivfpq serve floor to the
# re-rank's probed-cell vector fetch: the cell-sorted bucketed prefix
# index can skip only whole parquet row groups, so per-probed-cell read
# ≈ row-group bytes — ~128 MB (parquet default) on the 40M landing's
# ~300 MB bucket files, while cell occupancy stays ~constant. The
# 16 MB bound (Lakehouse.indexRowGroupBytes, r17) was A/B'd FLAT at
# 20M because that landing's 121 bucket files were ~24 MB — already
# one row group. This probe reproduces the 40M file geometry on a 2M
# corpus by landing into SPARK_GRAFT_INDEX_BUCKETS=4 (≈0.8-1 GB bucket
# files >> both row-group sizes) and A/Bs ONLY the bound:
#   /tmp/rg0  — buckets=4, row groups parquet-default (the 40M failure
#               geometry)
#   /tmp/rg16 — buckets=4, row groups bounded at 16 MB (the r17 default)
# Same corpus bytes, same bucket count, same probed cells; the rerank
# fetch is the only thing the bound can change.
set -uo pipefail
set -x
cd /root/repo
mkdir -p /tmp/r18

AVAIL_GB=$(df -BG --output=avail / | tail -1 | tr -dc '0-9')
[ "$AVAIL_GB" -lt 25 ] && { echo "REFUSING: need 25 GB free, have ${AVAIL_GB}"; exit 2; }

run() { # heap class main args...
  local heap=$1; shift
  SPARK_DRIVER_MEM=$heap sbt -batch "runMain $*"
}

# 1. the 2M-vector corpus (dup=0.01, hard=0.02 — the standard probe mix)
if [ ! -e /tmp/scale1000d1/_done ]; then
  SPARK_GRAFT_PROBE_DUP=0.01 SPARK_GRAFT_PROBE_TABLES=embeddings \
    run 24g graft.tools.ScaleProbe 1000 none > /tmp/r18/gen2m.log 2>&1 || exit 3
fi

# 2. two dir-keyed copies so each geometry gets its own landing
for d in rg0 rg16; do
  if [ ! -e /tmp/$d/_done ]; then
    rm -rf /tmp/$d && mkdir -p /tmp/$d
    cp /tmp/scale1000d1/embeddings.parquet /tmp/$d/ 2>/dev/null \
      || cp -r /tmp/scale1000d1/embeddings.parquet /tmp/$d/
    touch /tmp/$d/_done
  fi
done

# 3. land + profile the DEFAULT-row-group geometry (the 40M shape)
SPARK_GRAFT_INDEX_BUCKETS=4 SPARK_GRAFT_INDEX_ROWGROUP_MB=0 \
  run 24g graft.tools.PreLand /tmp/rg0 > /tmp/r18/preland_rg0.log 2>&1 || exit 4
SPARK_GRAFT_INDEX_BUCKETS=4 SPARK_GRAFT_INDEX_ROWGROUP_MB=0 \
  SPARK_GRAFT_RATE_TAG=r18_rg0big SPARK_GRAFT_PROBE_OUT=/root/repo \
  SPARK_GRAFT_SERVE_NPROBES=8,32 \
  run 24g graft.tools.ServeProfileProbe /tmp/rg0 > /tmp/r18/serveprof_rg0.log 2>&1 || exit 5

# 4. land + profile the BOUNDED geometry (r17 default, same buckets)
SPARK_GRAFT_INDEX_BUCKETS=4 \
  run 24g graft.tools.PreLand /tmp/rg16 > /tmp/r18/preland_rg16.log 2>&1 || exit 6
SPARK_GRAFT_INDEX_BUCKETS=4 \
  SPARK_GRAFT_RATE_TAG=r18_rg16big SPARK_GRAFT_PROBE_OUT=/root/repo \
  SPARK_GRAFT_SERVE_NPROBES=8,32 \
  run 24g graft.tools.ServeProfileProbe /tmp/rg16 > /tmp/r18/serveprof_rg16.log 2>&1 || exit 7

# 5. the evidence: bucket-file sizes + row-group counts + the profiles
ls -la /root/repo/spark-warehouse/ | grep graft_ann_index || true
for f in /root/repo/SERVEPROF_r18_rg0big.json /root/repo/SERVEPROF_r18_rg16big.json; do
  echo "== $f"; cat "$f"; echo
done
echo DONE
