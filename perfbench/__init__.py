"""CDC benchmark package: see run.py and README.md."""
