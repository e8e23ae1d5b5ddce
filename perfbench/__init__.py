"""Engine benchmark for the spark-cdc changefeed: see README.md."""
