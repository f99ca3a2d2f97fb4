"""Source-side maintenance — the reference's ``drop_copied_partition``
step (yq_dag.py:106-122): after a year is verified in the lake, the
hot store's partitions for that year are dropped with a PL/pgSQL loop
over ``pg_tables``:

.. code-block:: sql

    for prt in (select tablename from pg_tables
                where tablename like 'payments_y<year>%') loop
        execute 'drop table '||prt.tablename;
    end loop;

Our equivalent drives the same catalog-introspect-then-drop through a
plain JDBC connection (java.sql via the Spark JVM — no extra Python
DB driver needed). Statement execution is driver-side by design: DDL
is not a distributed operation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class JdbcStatementRunner:
    """Minimal driver-side JDBC statement channel over the Spark JVM's
    DriverManager (the same classpath Spark's JDBC source uses)."""

    def __init__(self, spark: SparkSession, url: str, driver: str | None = None):
        self._jvm = spark._jvm
        self.url = url
        if driver:
            # force-load the driver class so DriverManager can find it
            self._jvm.java.lang.Class.forName(driver)

    def execute(self, sql: str) -> None:
        conn = self._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def query_strings(self, sql: str) -> list[str]:
        """Run a single-string-column query (catalog introspection)."""
        conn = self._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                rs = stmt.executeQuery(sql)
                out = []
                while rs.next():
                    out.append(rs.getString(1))
                return out
            finally:
                stmt.close()
        finally:
            conn.close()


class SourceMaintenance:
    """Partition-retirement hook (C6). ``list_partitions_sql`` must
    return child-table names for a year — the PG production value is
    the pg_tables LIKE query above; tests inject the Derby SYS
    equivalent."""

    def __init__(
        self,
        runner: JdbcStatementRunner,
        list_partitions_sql: str,
        drop_template: str = "drop table {table}",
    ):
        self.runner = runner
        self.list_partitions_sql = list_partitions_sql
        self.drop_template = drop_template

    def partitions_for_year(self, year: int) -> list[str]:
        return self.runner.query_strings(
            self.list_partitions_sql.format(year=year)
        )

    def drop_year(self, year: int) -> list[str]:
        dropped = []
        for table in self.partitions_for_year(year):
            self.runner.execute(self.drop_template.format(table=table))
            dropped.append(table)
        return dropped
