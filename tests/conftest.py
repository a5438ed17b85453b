from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otel_kafka_pg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # heap capped at half the host's RAM: the engine's 32g default lets the
    # suite's one long-lived JVM outgrow a 16 GB host and be OOM-killed
    half_ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 >> 20
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": f"{half_ram_mb}m"})
    yield s


@pytest.fixture(scope="session")
def transcripts_path():
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    return load_or_synth_transcripts(2000, seed=7)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
