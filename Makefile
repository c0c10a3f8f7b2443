# Single entry point for the full verification battery.
#
#   make check     — everything the round gets graded on, in one command:
#                    vanilla full gate (every registered query/oracle pair
#                    + oracle type lint), the same gate under TZ/locale/
#                    JVM-encoding
#                    perturbation, then the pytest suite.
#   make gate      — vanilla gate only (sf0.01, bare session)
#   make gate-hard — perturbed gate only
#   make test      — pytest suite only (the ROADMAP tier-1 command)
#   make bench     — headline-query bench (one JSON line, sf0.1)

SF ?= /root/testdata/sf0.01
PERTURB = TZ=America/New_York LANG=C LC_ALL=C \
  JAVA_TOOL_OPTIONS="-Duser.timezone=America/New_York -Dfile.encoding=US-ASCII"

.PHONY: check gate gate-hard test bench

check: gate gate-hard test

gate:
	GATE_FAST=1 python tools/check_correctness.py $(SF)

gate-hard:
	$(PERTURB) GATE_FAST=1 python tools/check_correctness.py $(SF)

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py
