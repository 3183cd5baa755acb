from sfdc_cdc_aws_spark.sources.tables import load_table, read_parquet, TABLES  # noqa: F401
