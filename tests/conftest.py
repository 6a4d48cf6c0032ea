from __future__ import annotations

import os

import pytest

from sparkcdc.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # master cores sized to the box (SPARK_GRAFT_CPUS, default 8); the
    # shuffle partition count stays fixed so plan-pinning tests see the
    # same plans on every box
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(app="sparkcdc-tests", master=f"local[{cpus}]", shuffle_partitions=8,
                  driver_memory="6g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
