"""bingo-spark benchmark package (see README.md)."""
