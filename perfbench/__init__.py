"""Repository benchmark: seeded workloads over the engine's public calls.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see run.py. ``selftest.py`` checks the
benchmark itself on tiny inputs, ``steady.py`` runs a workload on
several seeds and reports each metric's spread, and ``pin.py`` pins
output fingerprints from finished runs.

Workloads (one caller, closed loop, local[<usable cpus>]):
  incremental_batch  the CLI's resumed batch: the first two thirds of
                     the rows are checkpointed during warm-up, each op
                     restores that checkpoint and runs the rest.
  queries_sf001      one warm pass of the 19 bench.HEADLINE queries on
                     seeded tables of the testdata sf0.01 sizes, after
                     an untimed warm-up that runs them one per cpu at a
                     time.

Which per-layer metric should move which end-to-end metric:
  plan.build_s                  run_s on incremental_batch
  parse.*                       turns_per_s on incremental_batch
  sessionize.*                  turns_per_s on incremental_batch
  enrich.*                      turns_per_s, peak_mem_mb on
                                incremental_batch
  reports.*                     run_s, turns_per_s on incremental_batch
  write_sinks.*                 sink_mb, turns_per_s on incremental_batch
  checkpoint.*, tables.*        run_s, sink_mb on incremental_batch
  query.<name>.s                run_s on queries_sf001
  spark.*, trace.*, process.*   recorded on both workloads

A traced run prints every per-layer metric; those of a layer its
workload never calls (a workload's ``LAYERS`` lists the ones it does)
read 0.
"""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, "perfbench", "_work")
