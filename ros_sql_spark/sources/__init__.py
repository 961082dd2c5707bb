from ros_sql_spark.sources.io import TABLES, load_table, load_tables  # noqa: F401
