from covid19_spark.sources.tables import TABLE_NAMES, load_table, register_views

__all__ = ["TABLE_NAMES", "load_table", "register_views"]
