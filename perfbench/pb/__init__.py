"""Python side of the benchmark: input generators, output checks and the
aggregation of the harness's raw record into metrics."""
