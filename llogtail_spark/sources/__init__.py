"""Input connectors: a local parquet dir, listed on the driver by
`reader.list_parts`. An Iceberg source would list its parts from the
table manifest instead (the jars are not in this image)."""
