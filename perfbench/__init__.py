"""KG-pipeline benchmark for duke_spark; entry point: perfbench/run.py."""
