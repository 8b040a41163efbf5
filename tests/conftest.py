from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from vcf2parquet_spark.session import get_spark
    # the task-count tests read stage infos from the status store; past
    # spark.ui.retainedStages (1,000) stored stages, Spark evicts
    # skipped stages first, and one suite runs more stages than that
    s = get_spark(cores=4, app_name="vcf2parquet_spark_tests",
                  shuffle_partitions=4,
                  extra_conf={"spark.ui.retainedStages": "100000",
                              "spark.ui.retainedJobs": "100000"})
    yield s
    s.stop()
