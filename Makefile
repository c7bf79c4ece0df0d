# Dev-workflow targets (reference `Makefile` parity: the reference exposes
# `make test` running pytest with coverage; this engine's equivalents plus
# its artifact regeneration commands).

PYTHON ?= python
SF_DIR ?= /root/testdata/sf0.1

.PHONY: help test bench parity plans scaling artifacts example

help:           ## List targets.
	@grep -E '^[a-z]+:.*##' $(MAKEFILE_LIST) | sed 's/:.*##/	—/'

test:           ## Full pytest suite (Spark local).
	$(PYTHON) -m pytest tests/ -q

bench:          ## Headline timings at $(SF_DIR); one JSON line on stdout.
	SPARK_GRAFT_SF_DIR=$(SF_DIR) $(PYTHON) bench.py

parity:         ## Full-registry DuckDB parity -> PARITY_LOCAL.md.
	$(PYTHON) parity_report.py

plans:          ## Physical-plan audit -> PLANS.md.
	$(PYTHON) plans_report.py

scaling:        ## sf0.001/0.01/0.1 + synthesized sf1.0 scaling -> SCALING.md.
	$(PYTHON) sf1_generate.py
	$(PYTHON) scaling_report.py

artifacts: parity plans scaling  ## Regenerate all round artifacts.

example:        ## Run the flagship training-data pipeline example.
	$(PYTHON) examples/training_data_pipeline.py
