from sql_engine_spark.sources.csv_catalog import load_reference_catalog, read_catalog_csv

__all__ = ["load_reference_catalog", "read_catalog_csv"]
