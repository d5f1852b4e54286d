"""kiwi_spark repository benchmark (see README.md)."""
