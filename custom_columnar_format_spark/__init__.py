from .shipping import cache_zip_directories

# Runs in every Spark Python worker that unpickles anything of this package,
# so that worker's later dispatches stop re-parsing pyspark.zip and the jars.
cache_zip_directories()
