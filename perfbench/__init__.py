"""End-to-end and per-layer benchmark of the ocr_spark extraction engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from any directory; ``python3 perfbench/selftest.py``
runs every workload once at a tiny size.
"""
