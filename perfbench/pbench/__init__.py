"""Front end of the study benchmark: build, launch, output check, metrics."""
