"""Layer-ledger benchmark of the production path (``extract_stage`` ->
``run_pipeline``).  Entry point: ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
