"""Benchmark of the gwv_spark engine: closed-loop workloads measured end
to end, plus a traced run that breaks each op down by engine layer.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see perfbench/README.md.
"""
