"""Benchmark for guagua_spark's iterative engine (see README.md).

A package, not a loose script directory: the traced run pickles its
worker interceptor and accumulator parameter by reference, so Spark's
Python workers must be able to ``import perfbench.tracing`` from the
checkout root.
"""
