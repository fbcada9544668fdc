"""Real-Oracle end-to-end acceptance (VERDICT r9 #6).

The reference's ONLY test spins dockerized Oracle Free and exports from
it (/root/reference/tests/conftest.py:35-59, image
container-registry.oracle.com/database/free:latest-lite).  This module
is the engine's analog: a skip-marked e2e that runs wherever an Oracle
container CAN run, and always-on SNAPSHOT assertions of the exact
dictionary SQL the e2e would push — so Oracle-dialect drift
is caught in THIS sandbox even while the container test skips.

Enable the live half with:

    OPDS_ORACLE_E2E=1 ORACLE_JDBC_JAR=/path/to/ojdbc11.jar \
        python -m pytest tests/test_oracle_e2e.py

(needs a docker daemon; the image is ~2 GB, so the e2e is opt-in even
where docker exists — same trade the reference makes by keeping its
only test out of CI, /root/reference/.github/workflows/ci.yml:28-31.)
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

import pytest

from oracle_parquet_dumper_spark.catalog import JdbcCatalog, OracleConnectionInfo, eligible_fields

ORACLE_IMAGE = "container-registry.oracle.com/database/free:latest-lite"
ORACLE_PWD = "e2e-test-only"
READY_MSG = "Completed: Pluggable database FREEPDB1 opened read write"


def _docker_available() -> bool:
    if not shutil.which("docker"):
        return False
    try:
        return (
            subprocess.run(
                ["docker", "info"], capture_output=True, timeout=10
            ).returncode
            == 0
        )
    except (OSError, subprocess.TimeoutExpired):
        return False


_skip_reason = None
if os.environ.get("OPDS_ORACLE_E2E") != "1":
    _skip_reason = "opt-in: set OPDS_ORACLE_E2E=1 (and ORACLE_JDBC_JAR) to run"
elif not _docker_available():
    _skip_reason = "no usable docker daemon for the Oracle Free container"
elif not os.path.isfile(os.environ.get("ORACLE_JDBC_JAR", "")):
    _skip_reason = "ORACLE_JDBC_JAR does not point at an ojdbc jar"

needs_oracle = pytest.mark.skipif(_skip_reason is not None, reason=_skip_reason or "")


# ---------------------------------------------------------------------------
# Always-on: snapshot the exact SQL the e2e pushes at Oracle
# ---------------------------------------------------------------------------


def test_oracle_dictionary_sql_snapshots():
    """Full-string snapshot (not substring probes — those live in
    test_exporter.py) of the generated Oracle dictionary SQL: the
    REGEXP_LIKE include/exclude table listing (reference
    main.py:195-207).  If a refactor changes one character of what
    would hit the real dialect, this fails here, docker or not."""
    assert JdbcCatalog.tables_sql("APP", "^FACT_", "_TMP$") == (
        "SELECT table_name FROM all_tables "
        "WHERE owner = 'APP' "
        "AND temporary = 'N' AND external = 'NO' "
        "AND REGEXP_LIKE(table_name, '^FACT_')"
        " AND NOT REGEXP_LIKE(table_name, '_TMP$')"
        " ORDER BY table_name ASC"
    )
    # injection hardening rides the same snapshot
    assert (
        "owner = 'O''BRIEN'" in JdbcCatalog.tables_sql("O'BRIEN", ".*", None)
    )


# ---------------------------------------------------------------------------
# Skip-marked: the live container round-trip
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def oracle_container():
    name = "opds-oracle-e2e"
    subprocess.run(["docker", "rm", "-f", name], capture_output=True)
    subprocess.run(
        [
            "docker", "run", "-d", "--rm", "--name", name,
            "-p", "1521:1521", "-e", f"ORACLE_PWD={ORACLE_PWD}",
            ORACLE_IMAGE,
        ],
        check=True,
        capture_output=True,
    )
    deadline = time.time() + 600
    while time.time() < deadline:
        logs = subprocess.run(
            ["docker", "logs", name], capture_output=True, text=True
        ).stdout
        if READY_MSG in logs:
            break
        time.sleep(2)
    else:
        subprocess.run(["docker", "rm", "-f", name], capture_output=True)
        raise TimeoutError(f"{READY_MSG!r} not seen in container logs")
    yield name
    subprocess.run(["docker", "rm", "-f", name], capture_output=True)


@needs_oracle
def test_oracle_dictionary_and_read_roundtrip(oracle_container):
    """The reference parity path against the REAL dialect: dictionary
    listing with regex include/exclude, a whole-table read, and
    type-exclusion column pruning (CLOB and BLOB dropped)."""
    from pyspark.sql import SparkSession

    jar = os.environ["ORACLE_JDBC_JAR"]
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.jars", jar)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    conn = OracleConnectionInfo(
        hostname="localhost",
        service_name="FREEPDB1",
        username="system",
        password=ORACLE_PWD,
    )
    jvm = spark._sc._jvm
    jconn = jvm.java.sql.DriverManager.getConnection(
        conn.jdbc_url, conn.username, conn.password
    )
    st = jconn.createStatement()
    st.execute(
        "CREATE TABLE E2E_FACT (id NUMBER(10) PRIMARY KEY, "
        "val VARCHAR2(40), doc CLOB, big BLOB)"
    )
    for i in range(1, 101):
        st.execute(f"INSERT INTO E2E_FACT (id, val) VALUES ({i}, 'row{i}')")
    st.execute("CREATE TABLE E2E_FACT_TMP (id NUMBER(5))")
    jconn.commit()

    cat = JdbcCatalog(spark, conn)
    assert cat.list_tables("SYSTEM", "^E2E_", "_TMP$") == ["E2E_FACT"]
    df = cat.read_table("SYSTEM", "E2E_FACT")
    assert eligible_fields(df.schema) == ["ID", "VAL"]  # CLOB and BLOB pruned
    assert df.count() == 100
    st.execute("DROP TABLE E2E_FACT")
    st.execute("DROP TABLE E2E_FACT_TMP")
    jconn.close()
