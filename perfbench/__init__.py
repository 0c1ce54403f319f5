"""Lane + spatial engine benchmark (see README.md; run via run.py)."""
