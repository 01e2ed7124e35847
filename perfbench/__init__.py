"""Cold-process benchmark of the ETL engine (see run.py)."""
