"""The local shuffle-partition rule: one partition per core."""

from __future__ import annotations

import re

from ssidentity_spark.session import cpu_count, tune


def test_get_spark_sets_one_shuffle_partition_per_core(spark):
    # the session fixture is get_spark(cores=n); its master says n
    n = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master).group(1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == n


def test_tune_sets_a_default_local_session_to_cpu_count(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    tune(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == str(cpu_count())
    # a width the caller chose is kept
    s.conf.set("spark.sql.shuffle.partitions", "3")
    tune(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == "3"
