"""Near-dup pipeline benchmark: see run.py."""
