"""KG-job benchmark for ontoweaver_spark: two workloads on local[4],
end-to-end metrics from untraced runs and per-layer metrics from a traced
run. Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see README.md in this directory."""
