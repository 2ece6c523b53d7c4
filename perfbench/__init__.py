"""bloomspark benchmark: seeded workloads, oracle checks and Spark-metric spans."""
