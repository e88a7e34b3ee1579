import os

import pytest

from fastpasta_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the suite's data fits in a 6g driver heap, well under get_spark's
    # half-of-RAM default; SPARK_DRIVER_MEM still overrides it.
    s = get_spark(app_name="fastpasta_spark_tests", cores=8,
                  extra_conf={"spark.driver.memory":
                              os.environ.get("SPARK_DRIVER_MEM", "6g")})
    yield s
