"""Repository benchmark for the airline engine.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` generates seeded inputs, drives one workload through
the engine's public functions on ``local[<cores>]``, checks every
output against a DuckDB oracle, and prints one JSON result line.
"""
