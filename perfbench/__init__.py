"""Seeded benchmark of the stakehouse_etl_spark package; see README.md."""
