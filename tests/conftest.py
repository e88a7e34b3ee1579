import os

import pytest

from fastpasta_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # get_spark's default 48g driver heap lets the JVM grow past the RAM
    # of a small host before it collects; the suite's data fits in a
    # fraction of this cap. SPARK_DRIVER_MEM still overrides it.
    s = get_spark(app_name="fastpasta_spark_tests", cores=8,
                  extra_conf={"spark.driver.memory":
                              os.environ.get("SPARK_DRIVER_MEM", "6g")})
    yield s
