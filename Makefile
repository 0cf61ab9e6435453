# graft — reference Makefile targets re-expressed for the Spark/sbt
# toolchain (uv/pytest/black → sbt; main.py → spark-submittable
# graft.EtlMain; plus the engine's own verify/bench drivers).

DOCKER_IMAGE = graft-spark
SF_DIR ?= /root/testdata/sf0.01
BENCH_SF_DIR ?= /root/testdata/sf0.1
VERIFY_OUT ?= /tmp/verify_out

# Include environment files (reference pattern: env.example overlaid
# by a local .env when present)
ifneq (,$(wildcard .env))
    ifneq (,$(wildcard env.example))
        include env.example
    endif
    include .env
else
    include env.example
endif
export

.PHONY: all bench clean compile docker docker-build docker-run help it-clickhouse package perf-etl run test verify

help: ## Show this help message
	@echo "Available commands:"
	@awk 'BEGIN {FS = ":.*?## "} /^[a-zA-Z_-]+:.*?## / {printf "  %-15s %s\n", $$1, $$2}' $(MAKEFILE_LIST) | sort

################################################################################

compile: ## Compile all sources
	@echo "Compiling..."
	sbt -batch compile Test/compile

test: ## Run the full spec suite
	@echo "Running tests..."
	sbt -batch test

verify: ## Dump all queries at SF_DIR and compare against the DuckDB oracle
	@echo "Running correctness verification at $(SF_DIR)..."
	sbt -batch "runMain graft.Verify $(SF_DIR) $(VERIFY_OUT)"
	python3 tools/check.py $(SF_DIR) $(VERIFY_OUT)

bench: ## Time every query at BENCH_SF_DIR (one JSON line + bench_local.json)
	@echo "Running benchmark at $(BENCH_SF_DIR)..."
	SPARK_GRAFT_SF_DIR=$(BENCH_SF_DIR) sbt -batch "runMain graft.Bench"

perf-etl: ## Traced etl_tail benchmark run: per-layer ETL metrics (perfbench/)
	python3 perfbench/run.py --workload etl_tail --seed 1 --seconds 30 --trace 1

all: compile test verify ## Run all checks (no mutations)
	@echo "All checks completed successfully!"

run: ## Run one ETL iteration locally (reference `make run`)
	@echo "Running one pipeline iteration..."
	sbt -batch "runMain graft.EtlMain /tmp/graft/in /tmp/graft/out /tmp/graft/ledger"

package: ## Build the thin application jar for spark-submit
	@echo "Packaging..."
	sbt -batch package

clean: ## Clean build products and caches
	@echo "Cleaning..."
	sbt -batch clean
	rm -rf spark-warehouse /tmp/verify_out

################################################################################

docker-build: ## Build Docker image
	@echo "Building Docker image..."
	docker build -t $(DOCKER_IMAGE) .

docker-run: ## Run one ETL iteration in the container
	@echo "Running Docker container..."
	docker run --rm \
		--env-file env.example \
		$(if $(wildcard .env),--env-file .env) \
		$(DOCKER_IMAGE)

docker: docker-build docker-run ## Build and run Docker container
	@echo "Docker container built and running!"

CLICKHOUSE_URL ?= http://localhost:8123

it-clickhouse: ## Live-ClickHouse integration test (starts compose'd server, runs the gated spec)
	@echo "Running live ClickHouse integration against $(CLICKHOUSE_URL)..."
	docker compose up -d clickhouse
	CLICKHOUSE_URL=$(CLICKHOUSE_URL) sbt -batch "testOnly graft.LiveClickHouseSpec"
