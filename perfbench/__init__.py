"""Repository benchmark: seeded serve and ingest workloads run against the
public API of ``tf_idf_vectorizer_spark``.

Entry point: ``python3 perfbench/run.py --workload <serve|ingest>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root.  The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the metric names,
units and directions are listed in ``BENCHMARK.json``.
"""
