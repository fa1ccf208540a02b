"""Benchmark of the extraction engine at ``local[4]``.

Run from the repository root::

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

The benchmark drives the engine only through its public functions
(``sources/``, ``core/``, ``operators/``, ``plans/`` and
``session.build_session``) and changes none of them. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` prints the per-layer metrics of a
separate traced run. See ``BENCHMARK.json`` for the metric list.
"""
