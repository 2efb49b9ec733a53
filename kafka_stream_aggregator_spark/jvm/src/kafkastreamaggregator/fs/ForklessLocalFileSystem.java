package kafkastreamaggregator.fs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/** {@code fs.file.impl}: Hadoop's checksummed LocalFileSystem over the forkless raw one. */
public class ForklessLocalFileSystem extends LocalFileSystem {

  public ForklessLocalFileSystem() {
    super(new ForklessRawLocalFileSystem());
  }

  /**
   * A rename onto an existing file fails (returns false) instead of replacing
   * it, as on HDFS. That is what the {@code file:} class resolved without this
   * binding does wherever pyspark's bundled jars are on the class path: Hive's
   * ProxyLocalFileSystem, which overrides only this method.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
