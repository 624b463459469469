#!/bin/bash
# Three consecutive official bench runs (r8 verdict #1 "done" criterion):
# each run's stdout JSON and BENCH_DETAIL.json are preserved per-run.
# r10: per-iteration /tmp artifacts are cleared up front (r9 ADVICE — a
# rerun after a partial failure could silently present a PRIOR run's
# artifacts as run $i's results), and the summary line reports the
# pairing-fairness guard: a run with pairing_fair=false must not be
# credited as an official pass regardless of its ratio.
set -u
cd "$(dirname "$0")/.."
for i in 1 2 3; do
  rm -f /tmp/bench_r10_run$i.out /tmp/bench_r10_run$i.err /tmp/bench_r10_detail$i.json
  python bench.py > /tmp/bench_r10_run$i.out 2> /tmp/bench_r10_run$i.err
  rc=$?
  echo "run$i rc=$rc"
  if [ $rc -ne 0 ]; then
    echo "run$i FAILED — stderr tail:" && tail -3 /tmp/bench_r10_run$i.err
    continue
  fi
  cp BENCH_DETAIL.json /tmp/bench_r10_detail$i.json 2>/dev/null
  tail -1 /tmp/bench_r10_run$i.out | python -c "
import json, sys
try:
    d = json.loads(sys.stdin.read())
except Exception as ex:
    print(f'run$i: UNPARSEABLE stdout tail ({ex})'); raise SystemExit(0)
o = d.get('oracle_total')
if not o:
    print(f\"run$i: value={d['value']} wall={d['value_wall_drains']}\"
          f\" (NO ORACLE — ratios unavailable)\")
else:
    omin = d.get('oracle_total_min', o)
    fair = 'FAIR' if d.get('pairing_fair', True) else 'UNFAIR-REJECT'
    print(f\"run$i: value={d['value']} wall={d['value_wall_drains']} oracle={o}\"
          f\" oracle_min={omin} ratio_credited={d['value']/o:.3f}\"
          f\" ratio_vs_min={d['value']/omin:.3f}\"
          f\" ratio_wall={d['value_wall_drains']/o:.3f}\"
          f\" pairing={fair}\")"
done
