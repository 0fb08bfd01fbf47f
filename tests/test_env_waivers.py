"""Environment-waiver probes as a committed test (VERDICT r8 #3).

Four capabilities are environment-blocked (COVERAGE.md §2.1 waivers):
live Kafka wire, live MySQL dialect, Avro DataSource, and a live
transformWithState run. The standing contract is that the
round ANY dependency appears, converting its waiver to a live test is
that round's FIRST task. Through round 8 the re-probe was a manual
habit re-dated in COVERAGE each round; this module makes the suite
enforce it: each probe SKIPS (with the probe result in the reason)
while the dependency is absent, and FAILS LOUDLY the moment it
appears — "waiver void — convert to live test".

The probes mirror the manual commands recorded in COVERAGE.md §2.1:
import checks for Python packages, a short-timeout TCP connect for
the Kafka/MySQL server ports, and a pyspark jars-dir scan for the
connector jars.

Escape hatch (ADVICE r9): the TCP probes make the suite sensitive to
UNRELATED local services — a MySQL or Kafka that happens to listen on
the standard port for reasons outside this repo would hard-fail the
run. Set SPARK_GRAFT_WAIVER_PORTS_IGNORE=1 to skip the port probes
(package/jar probes still run — those are repo-environment state, not
shared-host state). The default keeps the strict contract: on the
round harness, a listening port IS the dependency appearing.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import socket

import pytest

_IGNORE_PORTS = os.environ.get("SPARK_GRAFT_WAIVER_PORTS_IGNORE") == "1"


def _port_open(port: int, host: str = "127.0.0.1") -> bool:
    if _IGNORE_PORTS:
        return False
    try:
        with socket.create_connection((host, port), timeout=0.5):
            return True
    except OSError:
        return False


def _pyspark_jars(pattern: str) -> list[str]:
    import pyspark

    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(jars_dir, pattern))
    )


def _importable(mod: str) -> bool:
    try:
        return importlib.util.find_spec(mod) is not None
    except (ImportError, ValueError):
        return False


def test_protobuf_waiver_transform_with_state():
    """transformWithState's Python runner speaks protobuf; running
    totals run on applyInPandasWithState (stateful_running_totals), and
    no transformWithState variant ships while google.protobuf is
    absent."""
    if not _importable("google.protobuf"):
        pytest.skip("google.protobuf not importable — waiver stands")
    pytest.fail(
        "waiver void — google.protobuf is importable: a transformWithState "
        "running-totals operator can now run; add it with an "
        "unconditional live parity test against running_user_totals "
        "and update COVERAGE.md §2.1"
    )


def test_mysql_waiver_live_dialect():
    """JDBC is proven e2e on embedded Derby; the MySQL dialect is
    unit-covered (sources/schema.py type map) while no server listens
    on 3306 and no client package exists."""
    server = _port_open(3306)
    client = _importable("pymysql")
    jars = _pyspark_jars("*mysql*.jar")
    if not (server or client or jars):
        pytest.skip(
            "no MySQL server on 3306, no pymysql, no connector jar — "
            "waiver stands"
        )
    pytest.fail(
        "waiver void — MySQL dependency appeared "
        f"(server_3306={server}, pymysql={client}, jars={jars}): "
        "run the JDBC chunked-scan path (sources/jdbc.py) against the "
        "live server and update COVERAGE.md §2.1"
    )


def test_kafka_waiver_wire_path():
    """The offset-source contract runs live via the Python streaming
    DataSource (python_stream_source_totals); only the Kafka wire
    protocol is untested while no broker and no connector jar exist."""
    broker = _port_open(9092)
    jars = _pyspark_jars("*kafka*.jar")
    client = _importable("kafka") or _importable("confluent_kafka")
    if not (broker or jars or client):
        pytest.skip(
            "no broker on 9092, no kafka jars, no client package — "
            "waiver stands"
        )
    pytest.fail(
        "waiver void — Kafka dependency appeared "
        f"(broker_9092={broker}, jars={jars}, client={client}): "
        "run readStream.format('kafka') (sources/kafka.py) end-to-end "
        "and update COVERAGE.md §2.1"
    )


def test_avro_waiver_datasource_jar():
    """The distribution ships avro CORE jars only (avro/avro-ipc/
    avro-mapred) — format('avro') needs the spark-avro DataSource."""
    jars = _pyspark_jars("spark-avro*.jar")
    if not jars:
        pytest.skip(
            "no spark-avro DataSource jar in pyspark jars dir "
            "(core avro jars don't provide format('avro')) — "
            "waiver stands"
        )
    pytest.fail(
        f"waiver void — spark-avro jar present ({jars}): add the Avro "
        "reader/writer round-trip through sources/files.py and update "
        "COVERAGE.md §2.1"
    )
