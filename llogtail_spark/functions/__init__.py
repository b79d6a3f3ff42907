"""Column-level function library. `text` and `portable_hash` build
Catalyst column expressions, each with an ANSI-SQL twin for the DuckDB
oracle; only `text.lang_id` and `text.nfc` are pandas UDFs. `grok`
compiles grok patterns on the driver for the parse stage's Arrow UDF
(`operators/parse.py`)."""
