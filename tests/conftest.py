from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from triple_accel_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s
    s.stop()


# Edge lists shared by the connected-components tests, by name.
CC_GRAPHS = {
    "basic": (
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "a")],
        "id_a string, id_b string",
    ),
    "self_loops_and_reverse": (
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "p"), ("m", "m")],
        "id_a string, id_b string",
    ),
    "bigint_ladder": (
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6), (11, 12)],
        "id_a bigint, id_b bigint",
    ),
    "chain64": (
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(64)],
        "id_a string, id_b string",
    ),
}


@pytest.fixture(scope="session")
def cc_graph(spark):
    """``cc_graph(name)`` -> the ``CC_GRAPHS`` edge frame of that name."""
    return lambda name: spark.createDataFrame(*CC_GRAPHS[name])
