# Per-round invariants — run ALL of these before calling a round done.
# (VERDICT r5: the full-catalog oracle artifact is the only complete
# correctness gate; the driver's CORRECTNESS window rotates and can
# miss a broken query entirely.)

ROUND ?= rX
SF_SMALL ?= /root/testdata/sf0.001
SF_ORACLE ?= /root/testdata/sf0.01

.PHONY: test oracle-full bench canary plan-audit all

all: canary test oracle-full plan-audit bench

# seconds-fast environment-drift canary: run FIRST every round
canary:
	python -m pytest tests/test_env_canary.py -q

test:
	python -m pytest tests/ -q

# full-catalog cross-engine gate (every catalog query, ~6-8 min at sf0.01);
# commit the artifact: make oracle-full ROUND=r6
oracle-full:
	python tools/check_oracle.py --json ORACLE_FULL_$(ROUND).json $(SF_ORACLE)

# physical-plan audit (BNLJ/cartesian flags, pushdown, exchange counts)
plan-audit:
	python tools/plan_audit.py

bench:
	python bench.py

# hostile-driver correctness repro (VERDICT r10 item 1): the driver's
# exact 50-query window on a VANILLA session in a memory/timeout-bound
# subprocess, JSON buffered to the end; commit the artifact each round
gate-repro:
	python tools/gate_repro.py --json GATE_REPRO_$(ROUND).json

# 10x-growth evidence: generate sf1, time the heavy tier at sf0.1 and
# sf1 for scaling ratios (VERDICT r7 item 2)
sf1:
	python tools/make_sf1.py
	python tools/scale_probe.py --sf 0.1,1 --json SCALE_SF1_$(ROUND).json

# cross-engine gate for the heavy tiers at sf1 (100x the driver's
# sf0.01 scale); query list lives in tools/scale_probe.py
sf1-oracle:
	python tools/make_sf1.py
	python tools/check_oracle.py --json ORACLE_SF1_$(ROUND).json \
	  .scratch/sf1 $$(python -c "from tools.scale_probe import ORACLE_QUERIES; print(' '.join(ORACLE_QUERIES))")

# 100x-growth evidence (VERDICT r14 item 4): generate sf10 (2.2 GB)
# and time the top-10 heavies against squared work-growth bounds
sf10:
	python tools/scale_probe.py --sf 0.1,10 --json SCALE_SF10_$(ROUND).json

# core-count evidence (VERDICT r15 item 7): the heavies at sf1 on 32
# and 8 cores; a ratio near 1 names a serial bottleneck
scale-cores:
	python tools/scale_probe.py --sf 1 --cpus 32,8 --json SCALE_CORES_$(ROUND).json
