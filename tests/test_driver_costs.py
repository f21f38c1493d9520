"""Fixed driver costs that a warm rerun of the SQL layer must not pay again.

Two passes build and ``collect()`` the ten SQL queries of the benchmark's
``sql_analytics`` workload at sf0.01. The second pass is the warm rerun:

- it compiles no class with Janino (every generated class is still in
  the codegen cache, ``session._CODEGEN_CACHE_ENTRIES``);
- its builders stay inside a py4j round-trip budget, which holds only
  while PySpark's per-call DataFrame call-site capture is off.

Both are counts, so they do not depend on the host.
"""

from __future__ import annotations

import os

import pytest

# the benchmark's sql_analytics workload
SQL_SET = (
    "dq07_flagship_etl",
    "dq10_star_join",
    "dq15_agg_q1",
    "dq17_cube",
    "dq18_rank_lag",
    "dq14_asof_join",
    "dq30_sessionize",
    "dq26_json",
    "x_tpch_q5",
    "x_tpch_q21",
)
# py4j round-trips the ten builders may make in one warm pass (~1,580 with
# call-site capture off; 4,009 with it on)
BUILD_PY4J_BUDGET = 1800


@pytest.fixture(scope="module")
def warm_pass(spark, sf_dir):
    """Run the set twice; return the second pass's ``(Janino compiles,
    builder py4j calls)``. Calls are ``GatewayClient.send_command`` calls
    made inside the builders, leaving out proxy releases (``m\\nd\\n``):
    those follow the Python garbage collector, not the code being built."""
    from py4j.java_gateway import GatewayClient

    from blockchaintoavro_spark.plans import load_all

    registry = load_all()
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metric.METRIC_COMPILATION_TIME().getCount
    send = GatewayClient.send_command
    calls = 0

    def counting_send(client, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith("m\nd\n"):
            calls += 1
        return send(client, command, *args, **kwargs)

    for _ in range(2):
        c0 = compiles()
        calls = 0
        for name in SQL_SET:
            GatewayClient.send_command = counting_send
            try:
                df = registry[name].spark(spark, sf01)
            finally:
                GatewayClient.send_command = send
            df.collect()
        warm = (compiles() - c0, calls)
    return warm


def test_warm_rerun_compiles_nothing(warm_pass):
    compiled, _ = warm_pass
    assert compiled == 0, (
        f"a warm pass recompiled {compiled} generated classes: the codegen "
        "cache is smaller than the set's working set"
    )


def test_sql_builders_py4j_budget(warm_pass):
    _, calls = warm_pass
    assert calls <= BUILD_PY4J_BUDGET, (
        f"the {len(SQL_SET)} SQL builders made {calls} py4j round-trips "
        f"(budget {BUILD_PY4J_BUDGET})"
    )
