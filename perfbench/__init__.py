"""Engine benchmark: see README.md."""
