"""Repository benchmark: closed-loop workloads over the extraction engine at
``local[4]``, with end-to-end metrics, a traced per-layer run and output
checks. Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` (see ``perfbench/README.md``)."""
