from emission_project_spark.catalog.tables import TESTDATA_TABLES, load_table  # noqa: F401
