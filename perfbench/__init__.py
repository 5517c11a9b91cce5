"""Benchmark of the production pass (``job.run_job``) and its streaming
form; see README.md."""
