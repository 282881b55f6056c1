"""Python side of the benchmark: input generation, reference results,
statistics and the build/launch of the JVM harness."""
