"""Migration benchmark for d2d_spark; see README.md."""
