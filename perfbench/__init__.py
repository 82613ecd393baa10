"""Change-event replay benchmark for the debezium_spark engine (see README.md)."""
